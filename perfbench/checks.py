"""Correctness checks for one benchmark run, against DuckDB references.

Each function takes the JVM's raw result (see scala/Main.scala), the corpus
directory and the cache directory, and returns a list of failure messages
(empty = correct). References that depend only on the seed are cached in
the corpus directory; scrub digests are cached per seed so that a later run
with the same seed and pepper must reproduce them byte for byte.
"""
import glob
import hashlib
import json
import os

import duckdb

# FK closure of SchemaGraph.tpch from customer roots, grouped by `g`
# (one group per fixture root; a single group for the bulk sample).
CLOSURE = """
WITH c AS (SELECT r.g, cu.* FROM roots r JOIN customer cu ON cu.c_custkey = r.c),
o AS (SELECT c.g, o.* FROM c JOIN orders o ON o.o_custkey = c.c_custkey),
l AS (SELECT o.g, l.* FROM o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
p AS (SELECT DISTINCT g, l_partkey AS k FROM l),
s AS (SELECT DISTINCT g, l_suppkey AS k FROM l),
n AS (SELECT DISTINCT g, k FROM (SELECT g, c_nationkey AS k FROM c UNION ALL
      SELECT s.g, su.s_nationkey FROM s JOIN supplier su ON su.s_suppkey = s.k)),
rg AS (SELECT DISTINCT n.g, na.n_regionkey AS k FROM n JOIN nation na ON na.n_nationkey = n.k)
SELECT g, 'customer' AS t, count(*) AS n, sum(ck(c_custkey)) AS h FROM c GROUP BY g
UNION ALL SELECT g, 'orders', count(*), sum(ck(o_orderkey)) FROM o GROUP BY g
UNION ALL SELECT g, 'lineitem', count(*), sum(ck(l_orderkey * 8 + l_linenumber)) FROM l GROUP BY g
UNION ALL SELECT g, 'part', count(*), sum(ck(k)) FROM p GROUP BY g
UNION ALL SELECT g, 'supplier', count(*), sum(ck(k)) FROM s GROUP BY g
UNION ALL SELECT g, 'nation', count(*), sum(ck(k)) FROM n GROUP BY g
UNION ALL SELECT g, 'region', count(*), sum(ck(k)) FROM rg GROUP BY g
"""
KEY = {"customer": "c_custkey", "orders": "o_orderkey", "part": "p_partkey",
       "supplier": "s_suppkey", "nation": "n_nationkey", "region": "r_regionkey",
       "lineitem": "l_orderkey * 8 + l_linenumber"}
# columns whose scrubbed value can never equal the source value (where scrubbed)
MUST_DIFFER = {"c_name", "c_mktsegment", "c_acctbal", "s_name", "o_orderpriority",
               "o_orderstatus", "n_name", "r_name"}


def connect(corpus):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("CREATE MACRO ck(k) AS (CAST(k AS BIGINT) * 2654435761) % 4294967291")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "documents"]:
        if os.path.exists(f"{corpus}/{t}.parquet"):  # the parts the workload reads
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return con


def closure(con, groups):
    """{g: {table: (count, checksum)}} for roots given as (g, custkey) pairs."""
    con.execute("CREATE OR REPLACE TEMP TABLE roots (g BIGINT, c BIGINT)")
    con.executemany("INSERT INTO roots VALUES (?, ?)", groups)
    out = {}
    for g, t, n, h in con.execute(CLOSURE).fetchall():
        out.setdefault(g, {})[t] = (n, int(h))
    return out


def _files(d):
    return sorted(glob.glob(f"{d}/*.parquet"))


def dump_tables(con, sdir):
    """{table: (count, checksum)} of a slice dump, plus its manifest."""
    with open(f"{sdir}/manifest.json") as f:
        manifest = {t["id"]: t["row_count"] for t in json.load(f)["tables"]}
    got = {}
    for t in manifest:
        fs = _files(f"{sdir}/data/{t}")
        if not fs:
            got[t] = (0, 0)
            continue
        n, h = con.execute(f"SELECT count(*), coalesce(sum(ck({KEY[t]})), 0) "
                           f"FROM read_parquet({fs})").fetchone()
        got[t] = (n, int(h))
    return manifest, got


def scrub_checks(con, sdir, label, scrubbed):
    """Scrubbed columns differ from the source; returns (failures, digest)."""
    fails, digest = [], {}
    for t, cols in sorted(scrubbed.items()):
        fs = _files(f"{sdir}/data/{t}")
        if not fs:
            continue
        digest[t] = str(con.execute(
            f"SELECT coalesce(sum(hash({', '.join(cols)}, {KEY[t]})), 0) "
            f"FROM read_parquet({fs})").fetchone()[0])
        differ = [c for c in cols if c in MUST_DIFFER]
        if differ and t != "lineitem":
            key = KEY[t]
            same = " OR ".join(f"d.{c} IS NOT DISTINCT FROM s.{c}" for c in differ)
            n = con.execute(f"SELECT count(*) FROM read_parquet({fs}) d JOIN {t} s "
                            f"ON d.{key} = s.{key} WHERE {same}").fetchone()[0]
            if n:
                fails.append(f"{label}: {n} {t} rows keep a source value in a scrubbed column")
    return fails, digest


def _compare(label, manifest, got, want):
    fails = []
    for t in sorted(set(want) | set(manifest)):
        w = want.get(t, (0, 0))
        m = manifest.get(t)
        g = got.get(t, (0, 0))
        if m != g[0]:
            fails.append(f"{label}: {t} manifest {m} but data has {g[0]} rows")
        if g != w:
            fails.append(f"{label}: {t} (rows, key checksum) {g} != DuckDB closure {w}")
    return fails


class Digests:
    """Scrub digests per seed: the first run records, later runs compare."""

    def __init__(self, cache, seed):
        self.path = os.path.join(cache, "digests", f"seed-{seed}.json")
        self.known = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.known = json.load(f)
        self.fresh = {}

    def check(self, key, digest):
        prev = self.known.get(key, self.fresh.get(key))
        if prev is None:
            self.fresh[key] = digest
            return []
        return [] if prev == digest else [f"scrub output for {key} differs from an earlier run"]

    def save(self):
        if self.fresh:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({**self.known, **self.fresh}, f, sort_keys=True)
            os.replace(tmp, self.path)


def slice_fixture(res, corpus, cache, seed):
    con = connect(corpus)
    reqs = res["obs"].get("requests", [])
    want = closure(con, sorted({(r["custkey"], r["custkey"]) for r in reqs}))
    digests = Digests(cache, seed)
    fails = []
    for r in reqs:
        label = f"request custkey={r['custkey']}"
        manifest, got = dump_tables(con, r["dir"])
        fails += _compare(label, manifest, got, want.get(r["custkey"], {}))
        f, d = scrub_checks(con, r["dir"], label, res["obs"]["scrubbed"])
        fails += f + digests.check(f"fixture/{r['custkey']}", d)
    digests.save()
    return fails


def slice_bulk(res, corpus, cache, seed, meta):
    con = connect(corpus)
    roots = [(0, c) for (c,) in con.execute(
        f"SELECT c_custkey FROM customer WHERE {meta['bulk']['condition']}").fetchall()]
    want = closure(con, roots).get(0, {})
    digests = Digests(cache, seed)
    fails = []
    for i, d in enumerate(res["obs"].get("passes", [])):
        manifest, got = dump_tables(con, d)
        fails += _compare(f"pass {i + 1}", manifest, got, want)
        f, dg = scrub_checks(con, d, f"pass {i + 1}", res["obs"]["scrubbed"])
        fails += f + digests.check("bulk", dg)
    digests.save()
    return fails


def curate_oracle(corpus, sql):
    """pipeline_curate's DuckDB oracle over the generated documents, cached
    per corpus and oracle text."""
    path = os.path.join(corpus, "curate_oracle.json")
    tag = hashlib.sha256(sql.encode()).hexdigest()
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if cached.get("sql") == tag:
            return cached["stages"]
    con = connect(corpus)
    stages = {s: int(n) for _, s, n in con.execute(sql).fetchall()}
    with open(path + ".tmp", "w") as f:
        json.dump({"sql": tag, "stages": stages}, f, sort_keys=True)
    os.replace(path + ".tmp", path)
    return stages


def curate_corpus(res, corpus):
    want = curate_oracle(corpus, res["obs"]["oracle_sql"])
    fails = []
    for i, got in enumerate(res["obs"].get("stages", [])):
        for s, n in sorted(want.items()):
            if got.get(s) != n:
                fails.append(f"pass {i + 1}: stage {s} = {got.get(s)}, oracle {n}")
    return fails


def stream_ingest(res, corpus):
    st = res["obs"].get("stream")
    if not st:
        return ["stream: no sink outputs"]
    con = connect(corpus)
    landing = _files(st["landing"])
    fails = []
    if len(landing) != st["files"]:
        fails.append(f"stream: {len(landing)} files landed, {st['files']} dropped")
    cols = "event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts, user_id, event_type, value, props"
    want = (f"SELECT DISTINCT {cols} FROM read_parquet({landing}) WHERE ts >= "
            f"(SELECT max(ts) FROM '{st['landing']}/f00000.parquet') - INTERVAL '{st['delay']}'")
    got = f"SELECT {cols} FROM read_parquet({_files(st['dedup_out'])})"
    for a, b, what in [(got, want, "extra"), (want, got, "missing")]:
        rows = con.execute(f"{a} EXCEPT ALL {b}").fetchall()
        if rows:
            fails.append(f"stream dedup sink: {len(rows)} {what} rows against DuckDB, "
                         f"e.g. {rows[:3]}")
    aw = (f"SELECT user_id, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DECIMAL(38, 2)) AS total, "
          f"min(value) AS lo, max(value) AS hi FROM read_parquet({landing}) GROUP BY user_id")
    ag = (f"SELECT user_id, n, CAST(total AS DECIMAL(38, 2)) AS total, lo, hi "
          f"FROM read_parquet({_files(st['agg_out'])})")
    for a, b, what in [(ag, aw, "extra"), (aw, ag, "missing")]:
        n = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        if n:
            fails.append(f"stream IncAggState: {n} {what} rows against DuckDB")
    return fails


def run(workload, res, corpus, cache, seed, meta):
    if workload == "slice_fixture":
        return slice_fixture(res, corpus, cache, seed)
    if workload == "slice_bulk":
        return slice_bulk(res, corpus, cache, seed, meta)
    if workload == "curate_corpus":
        return curate_corpus(res, corpus)
    return stream_ingest(res, corpus)
