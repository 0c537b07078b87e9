package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Minimal input-type validation (Spark 4 hides AbstractDataType, so the
  * ExpectsInputTypes route isn't open to third-party expressions).
  */
object GraftTypeCheck {
  /** Structural comparison ignoring nullability flags. */
  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => sameShape(ea, eb)
    case _ => a == b
  }

  def expect(name: String, children: Seq[Expression], expected: Seq[DataType]): TypeCheckResult = {
    val mismatch = children.zip(expected).zipWithIndex.collectFirst {
      case ((c, e), i) if !sameShape(c.dataType, e) => (i, c.dataType, e)
    }
    mismatch match {
      case Some((i, got, want)) => TypeCheckResult.TypeCheckFailure(
        s"$name argument $i expects ${want.simpleString}, got ${got.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }
}

/** Deterministic random-hyperplane constants for the LSH family —
  * splitmix64 -> [-1, 1) floats, the single source of truth shared by the
  * fused [[kernels.lshBuckets]] kernel and the Column-level per-plane
  * cosines of the query-side flip policy (Similarity.planes reads these).
  */
object lshplanes {
  val NumTables = 8
  val PlanesPerTable = 4
  val Dim = 64
  private def mix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  val Planes: Array[Array[Float]] =
    Array.tabulate(NumTables * PlanesPerTable) { p =>
      Array.tabulate(Dim) { i =>
        val u = (mix(p * 64L + i) >>> 11).toDouble / (1L << 53).toDouble // [0,1)
        (2.0 * u - 1.0).toFloat
      }
    }
}

/** Static kernels shared by interpreted eval and generated code. Keeping the
  * bodies here means [[KernelExpr]] emits a single static call — the
  * expression stays inside whole-stage codegen without us generating the
  * loop by hand.
  */
object kernels {

  /** Cosine similarity over float vectors, accumulated in double. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Feature-hashing ("hash trick") text projection: each token lands in
    * dimension poly31(t) mod dims with sign ±1 from the next hash bit, the
    * classic Weinberger et al. 2009 construction. One pass, zero
    * allocation beyond the output; values are small integers stored as
    * floats (exact well below 2^24) so the result feeds cosine_sim
    * directly against a stored embedding column. DuckDB mirror: the same
    * poly31 per token, d = h % dims, sign = (h // dims) % 2.
    */
  def hashEmbed(tokens: ArrayData, dims: Int): ArrayData = {
    val acc = new Array[Float](dims)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = CrossHash.poly31(tokens.getUTF8String(i), 0L)
      val d = (h % dims).toInt
      acc(d) = acc(d) + (if (((h / dims) % 2L) == 1L) 1f else -1f)
      i += 1
    }
    new GenericArrayData(acc)
  }

  /** One-pass per-term token counts: out(j) = |{i : tokens(i) == terms(j)}|.
    * The token array (corpus-length) is scanned ONCE regardless of |terms|;
    * the term list (query-length, tiny) is hashed up front so each token is
    * one O(1) lookup. This is the BM25/search tf kernel — the alternative,
    * one interpreted `filter(toks, _ == t)` per term, is |terms| passes over
    * every document (SURVEY §7f's 30× interpreted-HOF penalty, multiplied
    * by the query length). Duplicate query terms each get the full count.
    */
  def termCounts(tokens: ArrayData, terms: ArrayData): ArrayData = {
    val m = terms.numElements()
    val idx = new java.util.HashMap[UTF8String, Integer](m * 2)
    var j = 0
    while (j < m) {
      // null elements are skipped, not read: UnsafeArrayData.getUTF8String on
      // a null slot yields a bogus empty string (null would conflate with "");
      // a null term simply counts 0
      if (!terms.isNullAt(j)) {
        val t = terms.getUTF8String(j)
        if (!idx.containsKey(t)) idx.put(t, j)
      }
      j += 1
    }
    val out = new Array[Long](m)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val p = idx.get(tokens.getUTF8String(i))
        if (p != null) out(p) += 1L
      }
      i += 1
    }
    // duplicate terms mirror their first occurrence's count
    j = 0
    while (j < m) {
      if (!terms.isNullAt(j)) {
        val p = idx.get(terms.getUTF8String(j))
        if (p != null && p != j) out(j) = out(p)
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Ancestor path of a node in the derived balanced tree
    * (parent(i) = (i-1) div 2, the hierarchy the documents data model
    * defines — see graft.operators.PipelineOps): [self, parent, ..., root].
    * Enumerated arithmetically per row, so subtree rollups need no
    * iterative joins — one static call, one explode, one shuffle.
    */
  def treeAncestors(id: Long): ArrayData = {
    var n = math.max(id, 0L)
    var len = 1
    var m = n
    while (m > 0) { m = (m - 1) >> 1; len += 1 }
    val out = new Array[Long](len)
    var i = 0
    while (i < len) { out(i) = n; if (n > 0) n = (n - 1) >> 1; i += 1 }
    out(len - 1) = 0L
    new GenericArrayData(out)
  }

  /** Argmax-cosine centroid id over a packed codebook row. `cents` is
    * array<struct<centroid_id: long, ce: array<float>>> sorted by centroid_id
    * ascending, so a strict `>` makes ties resolve to the lowest id — the
    * same tie-break as ordering by (sim desc, centroid_id asc). One static
    * call per corpus row; the |corpus| x |codebook| work never materializes
    * as rows, which is what keeps IVF cell assignment shuffle-free.
    */
  def nearestCentroid(emb: ArrayData, cents: ArrayData): Long = {
    val n = cents.numElements()
    if (n == 0)
      throw new IllegalArgumentException(
        "nearest_centroid: empty codebook — cell assignment would silently " +
          "produce a phantom cell id; check the centroid sampling predicate")
    var best = -1L
    var bestSim = Double.NegativeInfinity
    var j = 0
    while (j < n) {
      val c = cents.getStruct(j, 2)
      val sim = cosineF(emb, c.getArray(1))
      if (sim > bestSim) { bestSim = sim; best = c.getLong(0) }
      j += 1
    }
    best
  }

  /** Fused argmax + max: one pass over the reference row returning
    * struct<id: long, sim: double> — [[nearestCentroid]]'s id and the max
    * cosine itself in a single scan of the broadcast array (same iteration
    * order, same strict-`>` lowest-id tie-break, same cosineF
    * accumulation), so a consumer that needs both the verdict score and the
    * argmax id pays the dominant |eval|-length loop once per corpus row.
    */
  def nearestCosine(emb: ArrayData, cents: ArrayData): InternalRow = {
    val n = cents.numElements()
    if (n == 0)
      throw new IllegalArgumentException(
        "nearest_cosine: empty reference set — argmax over no vectors is " +
          "undefined; check the reference-set predicate")
    var best = -1L
    var bestSim = Double.NegativeInfinity
    var j = 0
    while (j < n) {
      val c = cents.getStruct(j, 2)
      val sim = cosineF(emb, c.getArray(1))
      if (sim > bestSim) { bestSim = sim; best = c.getLong(0) }
      j += 1
    }
    new GenericInternalRow(Array[Any](best, bestSim))
  }

  /** All [[lshplanes.NumTables]] LSH sign-bucket ids of a float vector in
    * ONE fused pass: per table, [[lshplanes.PlanesPerTable]] dot products
    * against the static primitive plane rows, bit i set when the dot is
    * >= 0. Bit-identical to the unfused per-plane form
    * `when(cosine_sim(v, plane_i) >= 0, 1L << i)`: the cosine's
    * denominator is positive (and the zero-norm guard returns 0.0, which
    * also passes >= 0 exactly when the dot is 0), so the sign test on the
    * raw double dot decides identically — while the fused kernel walks the
    * vector 32× with primitive-array plane rows instead of 32 separate
    * expression calls each re-decoding a boxed GenericArrayData literal.
    */
  def lshBuckets(emb: ArrayData): ArrayData = {
    import lshplanes._
    val m = math.min(emb.numElements(), Dim)
    val out = new Array[Long](NumTables)
    var t = 0
    while (t < NumTables) {
      var b = 0L
      var i = 0
      while (i < PlanesPerTable) {
        val pl = Planes(t * PlanesPerTable + i)
        var dot = 0.0
        var j = 0
        while (j < m) { dot += emb.getFloat(j).toDouble * pl(j); j += 1 }
        if (dot >= 0.0) b |= (1L << i)
        i += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Membership + ordered-pair markers over a sorted source array (the
    * d36/d38 overlap-matrix fan-out): n membership rows (src_b null)
    * followed by the n·(n-1)/2 ordered pairs. One tight loop per DISTINCT
    * shingle — the equivalent transform/sequence/flatten/concat HOF chain
    * evaluates interpreted per element (the d36 lesson) and its per-call
    * Catalyst allocation dominated the marks stage at sf0.1.
    */
  def overlapMarks(srcs: ArrayData): ArrayData = {
    val n = srcs.numElements()
    // size the output in Long first: n + n(n-1)/2 overflows Int past ~65k
    // distinct sources per shingle — fail with a clear message instead of a
    // NegativeArraySizeException / silent truncation
    val sz = n.toLong + n.toLong * (n - 1L) / 2L
    if (sz > Int.MaxValue)
      throw new IllegalArgumentException(
        s"overlap_marks: $n distinct sources yield $sz marker rows, " +
          "beyond array addressing — shard the source domain first")
    val out = new Array[Any](sz.toInt)
    var o = 0
    var i = 0
    while (i < n) {
      out(o) = new GenericInternalRow(Array[Any](srcs.getUTF8String(i), null))
      o += 1; i += 1
    }
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(o) = new GenericInternalRow(
          Array[Any](srcs.getUTF8String(i), srcs.getUTF8String(j)))
        o += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[overlapMarks]] over a BIT-MASK membership encoding: bit i of `mask`
    * set means `names(i)` holds the shingle, with `names` the globally
    * sorted source domain (collected once per query — catalog metadata at
    * scale). Ascending bit order IS ascending name order, so the emitted
    * rows are exactly overlapMarks(sort_array(collect_set(source))) — the
    * property spec pins the equivalence. The mask form exists because the
    * shingle-keyed aggregate feeding it is then a codegen'd long `bit_or`
    * instead of a per-row object-hash collect_set merge (guide: prefer
    * codegen-friendly aggregates in the corpus-sized hot path); it is only
    * legal for ≤64 sources — the caller guards and falls back to the
    * collect_set form on a wider domain.
    */
  def overlapMarksMask(mask: Long, names: ArrayData): ArrayData = {
    val total = names.numElements()
    if (total < 64 && (mask >>> total) != 0L)
      throw new IllegalArgumentException(
        s"overlap_marks_mask: mask $mask has bits beyond the $total-name domain")
    val n = java.lang.Long.bitCount(mask)
    val sel = new Array[Any](n)
    val lim = math.min(total, 64) // Java's << wraps past 63: never re-test low bits
    var b = 0
    var i = 0
    while (b < lim) {
      if ((mask & (1L << b)) != 0L) { sel(i) = names.getUTF8String(b); i += 1 }
      b += 1
    }
    val out = new Array[Any](n + n * (n - 1) / 2) // n <= 64: no overflow
    var o = 0
    i = 0
    while (i < n) {
      out(o) = new GenericInternalRow(Array[Any](sel(i), null))
      o += 1; i += 1
    }
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(o) = new GenericInternalRow(Array[Any](sel(i), sel(j)))
        o += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Code points outside [A-Za-z0-9\s] — the t06 punctuation count.
    * Semantically identical to regexp_count(text, "[^A-Za-z0-9\\s]"): a
    * single-char negated class matches once per non-member code point
    * (a supplementary pair is ONE code point in Java regex and RE2 alike),
    * but java.util.regex walks an interpreted node graph per char — ~80
    * ns/char measured, which made this count 85% of the whole t06 pass.
    * The hand loop is a branch per char (~1 ns), 16-bit chars counted
    * directly and only the low surrogate skipped, preserving the
    * per-code-point contract.
    */
  def nonAlnumSpaceCount(s: UTF8String): Long = {
    val str = s.toString
    var i = 0; var c = 0L
    val n = str.length
    while (i < n) {
      val ch = str.charAt(i)
      val member = (ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z') ||
        (ch >= '0' && ch <= '9') ||
        ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' || ch == '\f' || ch == '\r'
      if (!member) {
        c += 1
        // a high surrogate starts a supplementary code point: one match,
        // skip its low half
        if (Character.isHighSurrogate(ch) && i + 1 < n &&
            Character.isLowSurrogate(str.charAt(i + 1))) i += 1
      }
      i += 1
    }
    c
  }

  private val regexCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  /** Non-overlapping match count, same find() traversal as the built-in
    * regexp engine but with no per-match allocation. Java's Matcher.find()
    * self-advances past zero-width matches, so the loop terminates on any
    * pattern.
    */
  def regexCount(s: UTF8String, pattern: UTF8String): Long = {
    val p = regexCache.computeIfAbsent(pattern.toString, java.util.regex.Pattern.compile(_))
    val m = p.matcher(s.toString)
    var c = 0L
    while (m.find()) c += 1
    c
  }

  /** Morton/Z-order bit interleave over the low 16 bits of each input
    * (z fits in 32 bits, so the DuckDB replay's `1::BIGINT << (2i+1)`
    * powers never overflow). Callers mask their dimensions into the
    * 16-bit domain; higher input bits are ignored by construction.
    */
  def interleaveBits16(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

/** Cross-engine hash family: every kernel here has a bit-exact DuckDB SQL
  * mirror (see [[graft.CrossHashSql]]), because all arithmetic stays inside
  * plain non-overflowing BIGINT range — acc and hash values live below
  * P = 2^31-1, so a*h+b < 2^62. That is what lets the minhash/simhash dedup
  * operators (d02/d03/d10/d11) carry a real DuckDB hash-compare oracle
  * instead of a rows-only check, while the Spark side still runs a fast
  * static-call codegen kernel.
  */
object CrossHash {
  val P = 2147483647L    // 2^31 - 1, Mersenne prime
  val Base = 131L

  /** x mod P by Mersenne folding (2^31 ≡ 1 mod P, so high bits fold onto
    * low): two folds + one conditional subtract cover any 0 <= x < 2^62,
    * which bounds every product in this family ((P-1)^2 + (P-1) < 2^62).
    * Replaces the 64-bit division `% P` in the per-codepoint and
    * per-(hash,gram) hot loops — same value, ~4x cheaper per reduction.
    */
  @inline def modP(x: Long): Long = {
    var r = (x & P) + (x >>> 31)
    r = (r & P) + (r >>> 31)
    if (r >= P) r - P else r
  }

  /** Polynomial hash over unicode code points, mod P, seeded by `salt`.
    * DuckDB mirror: list_reduce over ord() of regexp_split_to_array(s, '').
    * Code points are decoded straight off the UTF-8 bytes — no String
    * allocation in the per-token hot loop (this runs twice per token in
    * simhash and once per shingle in minhash, corpus-wide).
    */
  def poly31(s: UTF8String, salt: Long): Long = {
    var acc = salt % P
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xff
      var cp = 0
      var len = 1
      if (b0 < 0x80) cp = b0
      else if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
      else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
      else { cp = b0 & 0x07; len = 4 }
      var j = 1
      while (j < len) { cp = (cp << 6) | (s.getByte(i + j) & 0x3f); j += 1 }
      acc = modP(acc * Base + cp)
      i += len
    }
    acc
  }

  /** Affine minhash family over [0, P): a_i in [1, P-1], b_i in [0, P-1],
    * from a deterministic splitmix64 stream (same values inlined into the
    * oracle SQL as list literals).
    */
  val MaxHashes = 64
  private def splitmix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  val A: Array[Long] = Array.tabulate(MaxHashes)(i => ((splitmix(2L * i) & Long.MaxValue) % (P - 1)) + 1)
  val B: Array[Long] = Array.tabulate(MaxHashes)(i => (splitmix(2L * i + 1) & Long.MaxValue) % P)
}

/** Static kernels for the cross-engine expressions (same single-static-call
  * codegen pattern as [[kernels]]).
  */
object crosskernels {
  import CrossHash._

  /** All k-token shingles as space-joined strings (order-preserving). */
  def shingleStrings(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 60-bit simhash: per-token 60-bit hash from two salted poly31 halves;
    * each bit position tallies votes, ties (and empty input) resolve to 0.
    * The two salted folds run in ONE code-point decode pass per token
    * (value-identical to poly31(t,1) / poly31(t,2) — only the accumulator
    * seeds differ), halving the per-character work of the d03 corpus scan.
    */
  def simhash60(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      var acc1 = 1L
      var acc2 = 2L
      val nb = t.numBytes()
      var p = 0
      while (p < nb) {
        val b0 = t.getByte(p) & 0xff
        var cp = 0
        var len = 1
        if (b0 < 0x80) cp = b0
        else if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
        else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
        else { cp = b0 & 0x07; len = 4 }
        var j = 1
        while (j < len) { cp = (cp << 6) | (t.getByte(p + j) & 0x3f); j += 1 }
        acc1 = modP(acc1 * Base + cp)
        acc2 = modP(acc2 * Base + cp)
        p += len
      }
      val h = (acc1 & 0x3fffffffL) | ((acc2 & 0x3fffffffL) << 30)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L; var b = 0
    while (b < 60) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** 120-bit wide simhash for d43/d44: out(0) ≡ simhash60(tokens) and
    * out(1) ≡ simhash60 of 'w'-prefixed tokens, computed VALUE-IDENTICALLY
    * in one code-point decode pass with four accumulators — the hi half's
    * salts are the lo salts advanced by 'w' (modP(1·131+119) = 250,
    * modP(2·131+119) = 381), so no prefixed token array is ever
    * materialized and the corpus is scanned once, not twice (the d43
    * signing cost at the ×1000 point). Spec-pinned equal to the two-pass
    * form in KernelPropertySpec.
    */
  def simhashWide120(tokens: ArrayData): ArrayData = {
    val cl = new Array[Int](60)
    val ch = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      var a1 = 1L; var a2 = 2L   // lo: poly31(t, 1) / poly31(t, 2)
      var a3 = 250L; var a4 = 381L // hi: poly31("w"+t, 1) / poly31("w"+t, 2)
      val nb = t.numBytes()
      var p = 0
      while (p < nb) {
        val b0 = t.getByte(p) & 0xff
        var cp = 0
        var len = 1
        if (b0 < 0x80) cp = b0
        else if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
        else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
        else { cp = b0 & 0x07; len = 4 }
        var j = 1
        while (j < len) { cp = (cp << 6) | (t.getByte(p + j) & 0x3f); j += 1 }
        a1 = modP(a1 * Base + cp)
        a2 = modP(a2 * Base + cp)
        a3 = modP(a3 * Base + cp)
        a4 = modP(a4 * Base + cp)
        p += len
      }
      val hl = (a1 & 0x3fffffffL) | ((a2 & 0x3fffffffL) << 30)
      val hh = (a3 & 0x3fffffffL) | ((a4 & 0x3fffffffL) << 30)
      var b = 0
      while (b < 60) {
        if (((hl >>> b) & 1L) == 1L) cl(b) += 1 else cl(b) -= 1
        if (((hh >>> b) & 1L) == 1L) ch(b) += 1 else ch(b) -= 1
        b += 1
      }
      i += 1
    }
    var lo = 0L; var hi = 0L; var b = 0
    while (b < 60) {
      if (cl(b) > 0) lo |= (1L << b)
      if (ch(b) > 0) hi |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(lo, hi))
  }

  /** Unicode NFC (canonical composition). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized avoids the rebuild for the common
    // already-composed case (the bulk of any real corpus)
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Product-quantization encode: per subspace m, the argmax-inner-product
    * codebook entry for the m-th slice of `emb` (first max wins — lowest
    * code id, matching the SQL array_position tie-break). Inner products are
    * float-multiplied then double-accumulated, the same arithmetic as the
    * zip_with/aggregate HOF form this kernel replaces (the HOF lambdas run
    * interpreted per row; this is one static call inside codegen).
    */
  def pqEncode(emb: ArrayData, cbs: ArrayData): ArrayData = {
    val m = cbs.numElements()
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val entries = cbs.getArray(i)
      val c = entries.numElements()
      var best = 0
      var bestIp = Double.NegativeInfinity
      var j = 0
      while (j < c) {
        val cent = entries.getArray(j)
        val d = cent.numElements()
        var ip = 0.0
        var k = 0
        while (k < d) {
          ip += (emb.getFloat(i * d + k) * cent.getFloat(k)).toDouble
          k += 1
        }
        if (ip > bestIp) { bestIp = ip; best = j }
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Minhash signature over shingle STRINGS: sig(i) = min over grams g of
    * (A_i * poly31(g, 0) + B_i) mod P; empty input degrades to B_i (so two
    * empty docs agree fully — the jaccard-of-empty-sets = 1 convention).
    * Duplicates in `grams` cannot change a min, so no pre-distinct needed.
    */
  def minhashSig31(grams: ArrayData, numHashes: Int): ArrayData = {
    val n = grams.numElements()
    val hs = new Array[Long](n)
    var j = 0
    while (j < n) { hs(j) = poly31(grams.getUTF8String(j), 0L); j += 1 }
    affineMins(hs, n, numHashes)
  }

  /** sig(i) = min_k (A_i * hs(k) + B_i) mod P; empty input degrades to B_i. */
  private def affineMins(hs: Array[Long], n: Int, numHashes: Int): ArrayData = {
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = A(i); val b = B(i)
      var best = Long.MaxValue
      var k = 0
      while (k < n) {
        val v = modP(a * hs(k) + b)
        if (v < best) best = v
        k += 1
      }
      sig(i) = if (n == 0) b else best
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Fused minhash-over-shingles: value-identical to
    * `minhashSig31(shingleStrings(tokens, k), n)` — the property spec holds
    * the two equal on arbitrary unicode input — but the shingle strings are
    * never materialized. poly31 is polynomial in the code points, so the
    * hash of `"t0 t1 t2"` composes from per-token (hash, Base^cpLen mod P)
    * pairs: H ∘ (" " + t) = (H*Base + 32) * pow_t + hash_t  (mod P). One
    * byte-scan per character corpus-wide (the string form re-scans each
    * character k times and allocates one string per shingle — measured as
    * the bulk of the d02/d11/d20 signature stage at the 10x SF).
    */
  def minhashShingleSig(tokens: ArrayData, k: Int, numHashes: Int): ArrayData = {
    val hs = gramHashes31Arr(tokens, k)
    affineMins(hs, hs.length, numHashes)
  }

  /** gram_hashes31(tokens, k): poly31 of every k-token space-joined window
    * — value-identical to hashing [[shingleStrings]] one by one (the
    * property spec pins this), computed with the same one-decode-pass
    * composition as [[minhashShingleSig]]. The rolling-window primitive
    * behind content-defined chunking (t28) and the minhash family.
    */
  def gramHashes31(tokens: ArrayData, k: Int): ArrayData =
    new GenericArrayData(gramHashes31Arr(tokens, k))

  /** cdc_spans(tokens, w, d): the content-defined chunks of t28, as
    * (start_tok, n_toks) structs with 1-based starts. A chunk closes after
    * token i0 + w exactly when the [[gramHashes31]] window starting at
    * 0-based i0 is ≡ 0 (mod d), and the last chunk closes at the end of the
    * array; fewer than w tokens make one whole-array chunk, and an empty
    * array one (1, 0) chunk. One pass over the window hashes;
    * `KernelPropertySpec` holds it equal to the SQL lambda form.
    */
  def cdcSpans(tokens: ArrayData, w: Int, d: Int): ArrayData = {
    require(d >= 1, s"cdc_spans: expected chunk length must be >= 1, got $d")
    val hs = gramHashes31Arr(tokens, w)
    val n = tokens.numElements()
    val out = new java.util.ArrayList[Any]()
    var start = 1
    var i0 = 0
    while (i0 < hs.length) {
      if (hs(i0) % d == 0) {
        val end = i0 + w
        out.add(new GenericInternalRow(Array[Any](start, end - start + 1)))
        start = end + 1
      }
      i0 += 1
    }
    if (out.isEmpty || start <= n) out.add(new GenericInternalRow(Array[Any](start, n - start + 1)))
    new GenericArrayData(out.toArray)
  }

  /** max_multiplicity(xs): how often the most frequent element occurs, in
    * one hash pass; 0 for an empty array. Null elements count toward
    * nothing, as `size(filter(xs, x -> x = g))` counts them.
    */
  def maxMultiplicity(xs: ArrayData): Long = {
    val n = xs.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val s = xs.getUTF8String(i)
        val c0 = counts.get(s)
        val c = if (c0 == null) 1 else c0 + 1
        counts.put(s, c)
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }

  private def gramHashes31Arr(tokens: ArrayData, k: Int): Array[Long] = {
    require(k >= 1, s"window length must be >= 1, got $k")
    val n = tokens.numElements()
    val m = if (n < k) 0 else n - k + 1
    val hs = new Array[Long](m)
    if (m > 0) {
      val th = new Array[Long](n) // poly31(token, 0)
      val tp = new Array[Long](n) // Base^cpLen(token) mod P
      var t = 0
      while (t < n) {
        val s = tokens.getUTF8String(t)
        var acc = 0L
        var pow = 1L
        val nb = s.numBytes()
        var i = 0
        while (i < nb) {
          val b0 = s.getByte(i) & 0xff
          var cp = 0
          var len = 1
          if (b0 < 0x80) cp = b0
          else if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
          else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
          else { cp = b0 & 0x07; len = 4 }
          var j = 1
          while (j < len) { cp = (cp << 6) | (s.getByte(i + j) & 0x3f); j += 1 }
          acc = modP(acc * Base + cp)
          pow = modP(pow * Base)
          i += len
        }
        th(t) = acc; tp(t) = pow
        t += 1
      }
      var g = 0
      while (g < m) {
        var h = th(g)
        var j = 1
        while (j < k) {
          h = modP(modP(h * Base + 32L) * tp(g + j) + th(g + j))
          j += 1
        }
        hs(g) = h
        g += 1
      }
    }
    hs
  }
}

/** The one scalar Catalyst expression behind graft's kernel table: `key`
  * names a [[Kernel]] row of [[GraftFunctions]], which supplies the input
  * check, the result type and the kernel. It behaves as Spark's
  * Unary/Binary/TernaryExpression do: a null argument yields null without
  * calling the kernel, interpreted `eval` calls the row's typed function,
  * and codegen emits one static call to the row's kernel method, so the
  * expression stays inside whole-stage codegen. Plans print it as
  * `key(args)`, and equality is by (key, children).
  */
case class KernelExpr(key: String, children: Seq[Expression]) extends Expression {
  @transient private lazy val kernel: Kernel = GraftFunctions.row[Kernel](key)

  override def prettyName: String = key
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def dataType: DataType = kernel.dataType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != kernel.arity) TypeCheckResult.TypeCheckFailure(
      s"$key expects ${kernel.arity} argument(s), got ${children.length}")
    else kernel.inputs(key, children)

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input)
      if (args(i) == null) return null
      i += 1
    }
    kernel.eval(args)
  }

  /** defineCodeGen's null propagation over n arguments: each argument is
    * evaluated only once every argument before it is non-null. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${ev.value} = graft.functions.${kernel.call}(${gens.map(_.value).mkString(", ")});"
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"boolean ${ev.isNull} = true;\n$decl\n$body")
    } else
      ev.copy(code = code"${gens.map(_.code).mkString("\n")}\n$decl\n$call", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
