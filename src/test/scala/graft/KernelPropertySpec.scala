package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.kernels

/** Property-style tests (seeded, deterministic) for the hash kernels behind
  * the custom expressions — pure JVM, no Spark session needed.
  */
class KernelPropertySpec extends org.scalatest.funsuite.AnyFunSuite {

  private def arr(tokens: Seq[String]) =
    new GenericArrayData(tokens.map(t => UTF8String.fromString(t)).toArray[Any])

  private val rng = new scala.util.Random(42)
  private def randTokens(n: Int): List[String] =
    List.fill(n)("w" + rng.nextInt(500))

  test("shingle hashes are shift-consistent: shared windows hash equal") {
    import graft.functions.crosskernels
    (1 to 50).foreach { _ =>
      val tokens = randTokens(4 + rng.nextInt(40))
      val full = crosskernels.gramHashes31(arr(tokens), 3)
      val tail = crosskernels.gramHashes31(arr(tokens.drop(1)), 3)
      (0 until tail.numElements()).foreach { i =>
        assert(full.getLong(i + 1) == tail.getLong(i))
      }
    }
  }

  test("cross-engine poly31 matches an independent codepoint-fold reference") {
    import graft.functions.CrossHash
    // reference mirrors the DuckDB SQL exactly: fold (acc*131 + ord(c)) % P
    def ref(s: String, salt: Long): Long =
      s.codePoints().toArray.foldLeft(salt % CrossHash.P)((a, c) => (a * 131 + c) % CrossHash.P)
    val samples = Seq("", "a", "hello world", "Ünïcødé ☃ text", "w1 w2 w3")
    for (s <- samples; salt <- Seq(0L, 1L, 2L))
      assert(CrossHash.poly31(UTF8String.fromString(s), salt) == ref(s, salt), s"'$s' salt=$salt")
  }

  test("cross-engine minhash31 signature agreement approximates jaccard") {
    import graft.functions.crosskernels
    (1 to 50).foreach { _ =>
      val a = randTokens(40)
      val edit = rng.nextInt(36)
      val b = a.take(edit) ++ a.drop(edit).map(_ + "x")
      val sa = (0 to a.length - 3).map(i => a.slice(i, i + 3).mkString(" ")).toSet
      val sb = (0 to b.length - 3).map(i => b.slice(i, i + 3).mkString(" ")).toSet
      val trueJ = (sa & sb).size.toDouble / (sa | sb).size
      val sigA = crosskernels.minhashSig31(crosskernels.shingleStrings(arr(a), 3), 32)
      val sigB = crosskernels.minhashSig31(crosskernels.shingleStrings(arr(b), 3), 32)
      val est = (0 until 32).count(i => sigA.getLong(i) == sigB.getLong(i)) / 32.0
      assert(math.abs(est - trueJ) <= 0.4, s"est=$est true=$trueJ")
    }
  }

  test("cross-engine simhash60 is order-insensitive and uses only 60 bits") {
    import graft.functions.crosskernels
    (1 to 50).foreach { _ =>
      val tokens = randTokens(40)
      val h1 = crosskernels.simhash60(arr(tokens))
      val h2 = crosskernels.simhash60(arr(rng.shuffle(tokens)))
      assert(h1 == h2)
      assert((h1 >>> 60) == 0L, "bits above 59 must stay clear")
    }
  }

  test("simhash60 single-token hash matches the two-salt poly31 composition") {
    import graft.functions.{crosskernels, CrossHash}
    // the dual-accumulator scan must stay bit-equal to the salted poly31
    // pair the DuckDB oracle recomputes
    for (t <- Seq("", "a", "hello", "Ünïcødé☃", "文字化け", "mixedÅscii1")) {
      val u = UTF8String.fromString(t)
      val expect = (CrossHash.poly31(u, 1) & 0x3fffffffL) |
        ((CrossHash.poly31(u, 2) & 0x3fffffffL) << 30)
      // a single-token doc votes every set bit of h positive, so the
      // simhash IS the per-token hash restricted to 60 bits
      assert(crosskernels.simhash60(arr(Seq(t))) == expect, s"'$t'")
    }
  }

  test("fused simhash_wide120 is bit-equal to the two-pass salted form") {
    import graft.functions.crosskernels
    // d43's one-decode-pass kernel must stay value-identical to the form
    // the DuckDB oracle recomputes: lo = simhash60(toks), hi = simhash60
    // of 'w'-prefixed toks
    (1 to 50).foreach { _ =>
      val tokens = randTokens(rng.nextInt(60) + 1)
      val wide = crosskernels.simhashWide120(arr(tokens))
      assert(wide.getLong(0) == crosskernels.simhash60(arr(tokens)))
      assert(wide.getLong(1) == crosskernels.simhash60(arr(tokens.map("w" + _))))
    }
    // edge cases: empty doc, empty token, unicode
    for (ts <- Seq(Seq.empty[String], Seq(""), Seq("Ünïcødé☃", "文字", ""))) {
      val wide = crosskernels.simhashWide120(arr(ts))
      assert(wide.getLong(0) == crosskernels.simhash60(arr(ts)))
      assert(wide.getLong(1) == crosskernels.simhash60(arr(ts.map("w" + _))))
    }
  }

  test("fused minhash_shingle_sig is bit-equal to the composed string form") {
    import graft.functions.crosskernels
    // arbitrary unicode incl. empty tokens, multi-byte code points, and
    // inputs shorter than k — the fused kernel must agree everywhere since
    // the d02/d11/d20 oracles recompute the string form
    val alphabet = Seq("", "a", "wort", "Ünïcødé", "☃", "文字化け", "x y", "0")
    val cases = Seq.empty[String] +:
      (1 to 60).map(_ => List.fill(rng.nextInt(12))(alphabet(rng.nextInt(alphabet.size)) + rng.nextInt(30)).toSeq)
    for (tokens <- cases; k <- Seq(2, 3)) {
      val composed = crosskernels.minhashSig31(crosskernels.shingleStrings(arr(tokens), k), 32)
      val fused = crosskernels.minhashShingleSig(arr(tokens), k, 32)
      assert((0 until 32).forall(i => composed.getLong(i) == fused.getLong(i)),
        s"tokens=$tokens k=$k")
    }
  }

  test("gram_hashes31 equals poly31 of each shingle string on arbitrary unicode") {
    import graft.functions.{crosskernels, CrossHash}
    import org.apache.spark.unsafe.types.UTF8String
    val alphabet = Seq("", "a", "wort", "Ünïcødé", "☃", "文字化け", "x y", "0")
    val cases = Seq.empty[String] +:
      (1 to 60).map(_ => List.fill(rng.nextInt(14))(alphabet(rng.nextInt(alphabet.size)) + rng.nextInt(30)).toSeq)
    for (tokens <- cases; k <- Seq(1, 2, 4)) {
      val fused = crosskernels.gramHashes31(arr(tokens), k)
      val strings = crosskernels.shingleStrings(arr(tokens), k)
      assert(fused.numElements() == strings.numElements(), s"tokens=$tokens k=$k")
      (0 until fused.numElements()).foreach { i =>
        assert(fused.getLong(i) ==
            CrossHash.poly31(strings.getUTF8String(i), 0L),
          s"tokens=$tokens k=$k i=$i")
      }
    }
    // k = whole-array: the single hash is poly31 of the space-joined text
    // (the t28 chunk-digest convention)
    val whole = crosskernels.gramHashes31(arr(Seq("ab", "cd", "e")), 3)
    assert(whole.numElements() == 1 &&
      whole.getLong(0) == CrossHash.poly31(UTF8String.fromString("ab cd e"), 0L))
  }

  test("mersenne modP equals the division form across the operand range") {
    import graft.functions.CrossHash
    val P = CrossHash.P
    val probes = Seq(0L, 1L, P - 1, P, P + 1, (P - 1) * (P - 1) + (P - 1), (1L << 61) + 12345L) ++
      Seq.fill(200)(math.abs(rng.nextLong()) % ((P - 1) * (P - 1)))
    probes.foreach(x => assert(CrossHash.modP(x) == x % P, s"x=$x"))
  }

  test("shingle strings window correctly and empty-pad short inputs") {
    import graft.functions.crosskernels
    val g = crosskernels.shingleStrings(arr(Seq("a", "b", "c", "d")), 3)
    assert((0 until g.numElements()).map(g.getUTF8String(_).toString) == Seq("a b c", "b c d"))
    assert(crosskernels.shingleStrings(arr(Seq("a", "b")), 3).numElements() == 0)
  }

  test("topk buffer: serde round-trips and merge order never changes the result") {
    import graft.functions.{GraftFunctions, KernelAgg, TopKBuffer}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = KernelAgg(GraftFunctions.topkAgg.name, Seq(Literal(0.0), Literal(5)))
    (1 to 30).foreach { _ =>
      val values = Array.fill(rng.nextInt(40) + 1)(rng.nextInt(20).toDouble)
      val expected = values.sorted.reverse.take(5).toSeq
      // split at a random point, aggregate each half, merge in both orders
      val cut = rng.nextInt(values.length)
      def bufOf(vs: Seq[Double]) = {
        val b = new TopKBuffer(5); vs.foreach(b.add); b
      }
      val (l, r) = values.splitAt(cut)
      val m1 = bufOf(l); m1.merge(agg.deserialize(agg.serialize(bufOf(r))))
      val m2 = bufOf(r); m2.merge(agg.deserialize(agg.serialize(bufOf(l))))
      assert(m1.sortedDesc.toSeq == expected, "left-into-right merge")
      assert(m2.sortedDesc.toSeq == expected, "right-into-left merge")
    }
  }

  test("bloom buffer: zero false negatives and OR-merge equals single build") {
    import graft.functions.{bloom, BloomBuffer}
    (1 to 20).foreach { _ =>
      val members = (1 to rng.nextInt(200) + 1).map(_ => rng.nextInt(100000).toString)
      val (l, r) = members.splitAt(rng.nextInt(members.length))
      val whole = new BloomBuffer(5, 1 << 12)
      members.foreach(m => whole.add(UTF8String.fromString(m)))
      val left = new BloomBuffer(5, 1 << 12)
      l.foreach(m => left.add(UTF8String.fromString(m)))
      val right = new BloomBuffer(5, 1 << 12)
      r.foreach(m => right.add(UTF8String.fromString(m)))
      left.orFrom(right)
      assert(left.serialized.toSeq == whole.serialized.toSeq,
        "partial builds OR-merged must equal the single-pass build")
      val ser = whole.serialized
      assert(members.forall(m => bloom.contains(ser, UTF8String.fromString(m))),
        "a Bloom filter must never report a member absent")
    }
  }

  test("cms buffer: one-sided error, add-merge equivalence, serde round-trip") {
    import graft.functions.{cms, CmsBuffer}
    import org.apache.spark.sql.catalyst.util.ArrayData
    def sketchArray(b: CmsBuffer): ArrayData = {
      val out = new Array[Long](1 + b.counts.length)
      out(0) = b.depth.toLong
      System.arraycopy(b.counts, 0, out, 1, b.counts.length)
      ArrayData.toArrayData(out)
    }
    (1 to 20).foreach { _ =>
      val items = (1 to rng.nextInt(300) + 1).map(_ => rng.nextInt(50).toString)
      val trueCounts = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // split-build with weighted adds vs single pass with unit adds
      val (l, r) = items.splitAt(rng.nextInt(items.length))
      val whole = new CmsBuffer(4, 128)
      items.foreach(i => whole.add(UTF8String.fromString(i), 1L))
      val left = new CmsBuffer(4, 128)
      l.groupBy(identity).foreach { case (i, g) =>
        left.add(UTF8String.fromString(i), g.size.toLong) }
      val right = new CmsBuffer(4, 128)
      r.foreach(i => right.add(UTF8String.fromString(i), 1L))
      left.addFrom(right)
      assert(left.counts.toSeq == whole.counts.toSeq,
        "weighted partial builds merged must equal the unit-add single pass")
      // one-sided error: estimates never undercount, for members AND misses
      val sk = sketchArray(whole)
      trueCounts.foreach { case (i, n) =>
        assert(cms.query(sk, UTF8String.fromString(i)) >= n, s"undercounted $i")
      }
      assert(cms.query(sk, UTF8String.fromString("never-added")) >= 0)
    }
  }

  test("tree ancestors: starts at self, halves to root, strictly decreasing") {
    (0L to 2000L).foreach { id =>
      val path = kernels.treeAncestors(id).toLongArray()
      assert(path.head == id)
      assert(path.last == 0L)
      path.sliding(2).foreach {
        case Array(a, b) => assert(b == (a - 1) >> 1 && b < a || (a == 0 && path.length == 1))
        case _ => ()
      }
      // length is exactly the node's depth + 1 in a balanced binary tree
      assert(path.length == 64 - java.lang.Long.numberOfLeadingZeros(id + 1))
    }
  }

  test("SampleHash stays in [0,P) and matches BigInt arithmetic at overflow-scale ids") {
    // the raw id * 2654435761 form overflows Long at id >= ~3.47e9; the
    // modular form must match exact (BigInt) arithmetic everywhere, incl.
    // ids far beyond the overflow point
    val P = BigInt(SampleHash.P); val K = BigInt(SampleHash.K)
    val ids = Seq(0L, 1L, 3470000000L, Long.MaxValue, Long.MaxValue - 1) ++
      List.fill(200)(math.abs(rng.nextLong()))
    ids.foreach { id =>
      val expected = ((BigInt(id) % P) * K % P).toLong
      val got = Math.floorMod(Math.floorMod(id, SampleHash.P) * SampleHash.K, SampleHash.P)
      assert(got == expected && got >= 0 && got < SampleHash.P, s"id=$id")
    }
    // and nearestCentroid fails loudly on an empty codebook (phantom cell -1 guard)
    intercept[IllegalArgumentException] {
      kernels.nearestCentroid(new GenericArrayData(Array[Any](1.0f)), new GenericArrayData(Array.empty[Any]))
    }
  }

  test("termCounts skips null elements instead of conflating them with empty strings") {
    // a null slot read via getUTF8String on UnsafeArrayData yields a bogus
    // EMPTY string — the kernel must isNullAt-skip, so a null token counts
    // toward nothing and a null term counts 0, distinct from the '' term
    val tokens = new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), null, UTF8String.fromString("a"),
      UTF8String.fromString("")))
    val terms = new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), null, UTF8String.fromString("")))
    val out = kernels.termCounts(tokens, terms)
    assert(out.getLong(0) == 2L, "tf('a') must ignore the null token")
    assert(out.getLong(1) == 0L, "a null term counts 0")
    assert(out.getLong(2) == 1L, "tf('') must not absorb the null slots")
  }

  test("cosine kernel: bounded, symmetric, self-similarity 1") {
    (1 to 100).foreach { _ =>
      val a = Array.fill(16)(rng.nextFloat() * 20f - 10f)
      val b = Array.fill(16)(rng.nextFloat() * 20f - 10f)
      val aa = new GenericArrayData(a.toArray[Any])
      val bb = new GenericArrayData(b.toArray[Any])
      val s = kernels.cosineF(aa, bb)
      assert(s >= -1.0000001 && s <= 1.0000001)
      assert(math.abs(s - kernels.cosineF(bb, aa)) < 1e-12)
      assert(math.abs(kernels.cosineF(aa, aa) - 1.0) < 1e-9)
    }
  }

  // --- r13 optimization kernels: each must be extensionally equal to the
  // --- slower form it replaced (the optimization changed internals only).

  test("overlap_marks emits exactly the membership + ordered-pair markers") {
    (1 to 50).foreach { _ =>
      val n = 1 + rng.nextInt(8)
      val srcs = (0 until n).map(i => s"src$i").sorted
      val out = kernels.overlapMarks(arr(srcs))
      val rows = (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2)
        (r.getUTF8String(0).toString, if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
      }
      val expected =
        srcs.map(s => (s, null: String)) ++
        (for (i <- srcs.indices; j <- (i + 1) until srcs.length) yield (srcs(i), srcs(j)))
      assert(rows == expected, s"n=$n")
    }
  }

  test("vec_mean_agg buffer equals the typed reduceGroups mean it replaced") {
    import graft.functions.VecSumBuffer
    (1 to 20).foreach { _ =>
      val dim = 8
      val vecs = List.fill(1 + rng.nextInt(40))(Array.fill(dim)(rng.nextFloat() * 4f - 2f))
      // reference: the r12 typed chain — per-row double widening, then sum/n
      val sums = new Array[Double](dim)
      vecs.foreach(v => (0 until dim).foreach(i => sums(i) += v(i).toDouble))
      val expected = sums.map(s => (s / vecs.length).toFloat)
      // kernel path, split across two partial buffers merged (the map-side shape)
      val (va, vb) = vecs.splitAt(vecs.length / 2)
      val b1 = new VecSumBuffer(dim); val b2 = new VecSumBuffer(dim)
      va.foreach(v => b1.add(new GenericArrayData(v.toArray[Any])))
      vb.foreach(v => b2.add(new GenericArrayData(v.toArray[Any])))
      b1.mergeFrom(b2)
      val got = (0 until dim).map(i => (b1.sums(i) / b1.n).toFloat)
      assert(got == expected.toSeq)
    }
  }

  test("lsh_buckets equals the per-plane cosine sign form it replaced") {
    import graft.functions.lshplanes
    (1 to 50).foreach { _ =>
      val v = Array.fill(lshplanes.Dim)(rng.nextFloat() * 2f - 1f)
      val out = kernels.lshBuckets(new GenericArrayData(v.toArray[Any]))
      (0 until lshplanes.NumTables).foreach { t =>
        var expected = 0L
        (0 until lshplanes.PlanesPerTable).foreach { i =>
          val plane = lshplanes.Planes(t * lshplanes.PlanesPerTable + i)
          val pArr = new GenericArrayData(plane.toArray[Any])
          if (kernels.cosineF(new GenericArrayData(v.toArray[Any]), pArr) >= 0)
            expected |= (1L << i)
        }
        assert(out.getLong(t) == expected, s"table $t")
      }
    }
  }

  // --- r14 optimization kernels / guards.

  test("overlap_marks_mask equals overlap_marks over the decoded member subset") {
    (1 to 100).foreach { _ =>
      val total = 1 + rng.nextInt(12)
      val names = (0 until total).map(i => f"src$i%02d").sorted
      val mask = (rng.nextLong() & ((1L << total) - 1)) match {
        case 0L => 1L // at least one member, as every shingle has a source
        case m  => m
      }
      val members = (0 until total).filter(b => (mask & (1L << b)) != 0L).map(names)
      val viaMask = kernels.overlapMarksMask(mask, arr(names))
      val viaSet = kernels.overlapMarks(arr(members))
      assert(viaMask.numElements() == viaSet.numElements(), s"mask=$mask")
      (0 until viaMask.numElements()).foreach { i =>
        val a = viaMask.getStruct(i, 2); val b = viaSet.getStruct(i, 2)
        assert(a.getUTF8String(0) == b.getUTF8String(0), s"row $i src_a")
        assert(a.isNullAt(1) == b.isNullAt(1), s"row $i null")
        if (!a.isNullAt(1)) assert(a.getUTF8String(1) == b.getUTF8String(1), s"row $i src_b")
      }
    }
    // a mask bit beyond the name domain must fail loudly, not read garbage
    intercept[IllegalArgumentException] {
      kernels.overlapMarksMask(0x8L, arr(Seq("a", "b")))
    }
  }

  test("overlap_marks rejects a source domain whose marker count overflows Int") {
    val big = new GenericArrayData(
      Array.fill[Any](70000)(UTF8String.fromString("s")))
    val e = intercept[IllegalArgumentException] { kernels.overlapMarks(big) }
    assert(e.getMessage.contains("shard the source domain"))
  }

  test("vec_mean_agg fails loudly on malformed input instead of reading garbage") {
    import graft.functions.{GraftFunctions, KernelAgg, VecSumBuffer}
    // a shorter-than-dim vector: UnsafeArrayData.getFloat has no bounds
    // check, so silent acceptance would yield garbage sums
    val b = new VecSumBuffer(8)
    intercept[IllegalArgumentException] {
      b.add(new GenericArrayData(Array.fill[Any](4)(1.0f)))
    }
    // an all-null group reaches eval with n = 0: the mean is undefined and
    // must not silently emit NaNs through a nullable=false column
    val agg = KernelAgg(GraftFunctions.vecMeanAgg.name, Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal(8)))
    intercept[IllegalArgumentException] { agg.eval(new VecSumBuffer(8)) }
  }

  test("lsh_buckets planes match the r12 Similarity-side splitmix constants") {
    import graft.functions.lshplanes
    // the r12 generator, verbatim — the kernel constants must never drift
    def mix(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    for (p <- 0 until lshplanes.NumTables * lshplanes.PlanesPerTable; i <- 0 until 64) {
      val u = (mix(p * 64L + i) >>> 11).toDouble / (1L << 53).toDouble
      assert(lshplanes.Planes(p)(i) == (2.0 * u - 1.0).toFloat)
    }
  }
}
