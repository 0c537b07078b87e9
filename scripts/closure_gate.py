#!/usr/bin/env python3
"""Shared-closure oracle gate for the cluster-artifact consumers.

The d10/d22/d26/d29/d32 oracles all embed the same WITH RECURSIVE
connected-components closure over the simhash candidate graph. This script:

  1. materializes the closure (doc_id, cluster_id) ONCE to parquet,
  2. rewrites each closure oracle to read the materialized table,
  3. hands the rewritten oracles to the standard scripts/check_oracle.py
     compare (symlinked dumps), so the hash semantics stay identical.

Step 1 has two modes:

  iterative (default) — min-label propagation with pointer jumping.
    The monolithic WITH RECURSIVE `reach` materializes FULL reachability
    (src -> every reachable dst): O(sum of component-size^2) rows. Under
    ScaleGen replication component sizes grow with the factor, so reach
    grows QUADRATICALLY in it — that is why the recursive CTE exhausted a
    40 GB + 12 GB-spill budget at the x100 point (round-12 record) while
    the candidate EDGE set is only ~63.5M rows there. Min-label iteration
    keeps O(V) label state and does O(V+E) work per round:
      lbl_0(v) = v
      lbl_{i+1}(v) = min(lbl_i(v), min over neighbors u of lbl_i(u),
                         lbl_i(lbl_i(v)))          -- pointer jump
    Labels only decrease and always name a node of v's own component, so
    at fixpoint labels are edge-constant = min(component) — exactly
    reach's MIN(dst) GROUP BY src (reach's base row keeps singletons).
    The pointer jump makes convergence O(log diameter) rounds. The heavy
    simhash signature build is staged to its own parquet first (the
    memo_gate pattern) so each DuckDB statement stays small.

  monolithic (GRAFT_CLOSURE_MONO=1) — the original single recursive CTE,
    kept as the cross-check path: both modes must hash-match the same
    engine dump (they produce the same table; the iterative mode is gated
    against the monolithic one at sf0.01 before any scale use).

Usage: python3 scripts/closure_gate.py <sfDir> <verifyOutDir> <workDir>
  <verifyOutDir> must hold a graft.Verify dump covering the closure keys
  (dirs + oracle_sql.json).
"""
import sys, os, json, subprocess, time

sf_dir, out_dir, work = sys.argv[1], sys.argv[2], sys.argv[3]
os.makedirs(work, exist_ok=True)
cl_parquet = f"{work}/closure.parquet"

with open(f"{out_dir}/oracle_sql.json") as fh:
    oracles = json.load(fh)

MARKER = "cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)"
closure_keys = [k for k, v in oracles.items() if MARKER in v]
# d10 IS the closure readout (same CTE chain, closure as final SELECT)
d10 = "d10_neardup_clusters"

import duckdb
con = duckdb.connect()
# Same bounds as check_oracle.py: an unbounded connection races co-resident
# JVMs into the kernel OOM killer at x100.
con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '24GB')}'")
if "GRAFT_DUCKDB_THREADS" in os.environ:
    con.execute(f"SET threads={os.environ['GRAFT_DUCKDB_THREADS']}")
con.execute(f"SET temp_directory='{work}/.tmp'")
con.execute(
    f"SET max_temp_directory_size='{os.environ.get('GRAFT_DUCKDB_TMPMAX', '64GB')}'")
for f in os.listdir(sf_dir):
    if not f.endswith(".parquet"):
        continue
    name = f.removesuffix(".parquet")
    path = f"{sf_dir}/{f}"
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")

print(f"[closure_gate] materializing closure once for {len(closure_keys)+1} "
      f"keys ({d10} + {', '.join(sorted(closure_keys))}) ...", flush=True)

if os.environ.get("GRAFT_CLOSURE_MONO") == "1":
    # 1a. monolithic: d10's oracle minus its ORDER BY is exactly the closure
    closure_sql = oracles[d10].rsplit("ORDER BY", 1)[0]
    con.execute(f"COPY ({closure_sql}) TO '{cl_parquet}' (FORMAT PARQUET)")
else:
    # 1b. iterative: stage the d10 oracle's own CTE text (never a retyped
    # copy — the SQL splits at CTE boundaries so the hash/band arithmetic
    # cannot drift from what the monolithic path runs).
    body = oracles[d10]
    head, sep, rest = body.partition(",\nband AS")
    if not sep:
        raise SystemExit("[closure_gate] d10 oracle shape changed: no band CTE")
    mid, sep, _ = rest.partition(",\nreach AS")
    if not sep:
        raise SystemExit("[closure_gate] d10 oracle shape changed: no reach CTE")

    sh_parquet = f"{work}/closure_sh.parquet"
    e_parquet = f"{work}/closure_edges.parquet"

    t0 = time.time()
    sh_sql = head.replace("WITH RECURSIVE", "WITH", 1) + "\nSELECT doc_id, sh FROM sh"
    con.execute(f"COPY ({sh_sql}) TO '{sh_parquet}' (FORMAT PARQUET)")
    print(f"[closure_gate] sh memo: "
          f"{con.execute(f'SELECT COUNT(*) FROM ' + repr(sh_parquet)).fetchone()[0]} "
          f"signatures in {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    edges_sql = (f"WITH sh AS (SELECT * FROM '{sh_parquet}'),\nband AS{mid}"
                 "\nSELECT ea, eb FROM e")
    con.execute(f"COPY ({edges_sql}) TO '{e_parquet}' (FORMAT PARQUET)")
    n_e = con.execute(f"SELECT COUNT(*) FROM '{e_parquet}'").fetchone()[0]
    print(f"[closure_gate] edges: {n_e} directed rows in {time.time()-t0:.1f}s",
          flush=True)

    con.execute(
        "CREATE TABLE lbl AS SELECT doc_id AS node, doc_id AS lbl FROM documents")
    rounds = 0
    while True:
        rounds += 1
        t0 = time.time()
        con.execute(f"""
            CREATE TABLE lbl_next AS
            SELECT node, MIN(l) AS lbl FROM (
              SELECT node, lbl AS l FROM lbl
              UNION ALL
              SELECT e.ea AS node, l.lbl AS l
              FROM '{e_parquet}' e JOIN lbl l ON l.node = e.eb
              UNION ALL
              SELECT a.node, b.lbl AS l
              FROM lbl a JOIN lbl b ON b.node = a.lbl
            ) GROUP BY node""")
        changed = con.execute(
            "SELECT COUNT(*) FROM lbl_next n JOIN lbl o ON n.node = o.node "
            "WHERE n.lbl <> o.lbl").fetchone()[0]
        con.execute("DROP TABLE lbl")
        con.execute("ALTER TABLE lbl_next RENAME TO lbl")
        print(f"[closure_gate] round {rounds}: {changed} labels moved "
              f"({time.time()-t0:.1f}s)", flush=True)
        if changed == 0:
            break
        if rounds > 64:  # pointer jumping converges in O(log n); 64 = broken
            raise SystemExit("[closure_gate] no fixpoint after 64 rounds")
    con.execute(f"COPY (SELECT node AS doc_id, lbl AS cluster_id FROM lbl "
                f"ORDER BY doc_id) TO '{cl_parquet}' (FORMAT PARQUET)")

n = con.execute(f"SELECT COUNT(*) FROM '{cl_parquet}'").fetchone()[0]
print(f"[closure_gate] closure done: {n} rows -> {cl_parquet}", flush=True)

# 2. rewrite: closure consumers read the materialized table; d10 compares
#    the table itself (ordered)
rewritten = {d10: f"SELECT doc_id, cluster_id FROM '{cl_parquet}' ORDER BY doc_id"}
for k in closure_keys:
    tail = oracles[k].split(MARKER, 1)[1]
    rewritten[k] = f"WITH cl AS (SELECT * FROM '{cl_parquet}')" + tail

# 3. standard compare over symlinked dumps. Recreate links unconditionally:
#    a stale link from a previous run with a different <verifyOutDir> would
#    compare against the OLD dump (a wrong PASS).
for k in rewritten:
    dst = f"{work}/{k}"
    if os.path.islink(dst):
        os.remove(dst)
    elif os.path.exists(dst):
        raise SystemExit(f"refusing to replace non-symlink {dst}")
    os.symlink(f"{os.path.abspath(out_dir)}/{k}", dst)
with open(f"{work}/oracle_sql.json", "w") as fh:
    json.dump(rewritten, fh)
sys.exit(subprocess.call(
    [sys.executable, os.path.join(os.path.dirname(__file__), "check_oracle.py"),
     sf_dir, work]))
