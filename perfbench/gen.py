"""Seeded corpus generator for the graft benchmark.

Everything is derived from the seed with DuckDB's deterministic `hash()`,
so the same seed always yields the same bytes (every COPY is ORDER BY'd, so
the thread count does not change the files). The corpus is cached per seed under
`<cache>/corpus/seed-<n>/`; a `meta.json` written last marks it complete.

Contents (sizes in the constants below), in three parts that are generated
on first use, so a run only pays for the tables its workload reads:
  * `star`: a TPC-H-shaped star schema (region .. lineitem) with planted "whale"
    customers that own many times the orders of an ordinary customer;
  * `docs`: a documents table with near-duplicate families, exact copies,
    boilerplate lines, pure-boilerplate docs and eval-set leaks (copies
    of the first BENCH_DOCS docs, which the curate pipeline treats as the
    evaluation set);
  * `stream`: STREAM_FILES event files for the stream workload, with duplicate rows
    (copies of the previous file's rows) and late rows (a day older than
    anything in file 0); file 0 has neither.

Usage: python3 perfbench/gen.py <seed> [cacheDir [part ...]]
"""
import json
import os
import shutil
import sys

N_CUSTOMERS = 3000
N_WHALES = 6
WHALE_ORDERS = 1500
MAX_ORDERS = 16          # an ordinary customer owns 0..MAX_ORDERS orders
MAX_LINES = 7            # an order has 1..MAX_LINES lineitems
N_PARTS = 4000
N_SUPPLIERS = 200
N_DOCS = 3000
BENCH_DOCS = 50          # pipeline_curate's in-corpus evaluation set
STREAM_FILES = 324       # file 0 starts the queries, 24 warm them up, 299 are timed
STREAM_ROWS = 250
STREAM_RATE = 4.0        # files per second offered by the stream generator
STREAM_DELAY = "10 minutes"  # dedup watermark delay
FIXTURE_ROOTS = 400      # length of the seeded request sequence
FIXTURE_ORDERS = 8       # orders of every ordinary fixture customer
PARTS = ("star", "docs", "stream")  # generated and cached separately

VOCAB = ("the a of and to in is on data table row column key value part join "
         "scan sort merge hash group order filter query spark batch stream "
         "window line customer index vector shard token corpus model train "
         "eval split pack dedup near exact shingle band bucket graph edge node "
         "rank score quality label source lang cluster center round frontier "
         "seed slice scrub dump restore schema").split()
BOILERPLATE = ["subscribe to our newsletter", "all rights reserved here",
               "click here to continue", "cookie policy applies now"]


def _h(seed, *parts, tag=""):
    """SQL for a seeded non-negative pseudo-random integer of `parts`;
    `tag` keeps the streams of different columns apart."""
    return "hash(" + ", ".join(list(parts) + [f"'{tag}'", str(int(seed))]) + ")"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def whales(seed):
    """The planted whale customer keys (deterministic in the seed)."""
    import duckdb
    con = duckdb.connect()
    return [r[0] for r in con.execute(
        f"SELECT c FROM range(1, {N_CUSTOMERS + 1}) t(c) "
        f"ORDER BY {_h(seed, 'c', tag='whale')}, c "
        f"LIMIT {N_WHALES}").fetchall()]


def _table_meta(con, out, tables):
    return {t: {"rows": con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0],
                "bytes": os.path.getsize(f"{out}/{t}.parquet")} for t in tables}


def generate(seed, out, parts=PARTS):
    """Write the requested parts of the corpus for `seed` into `out`;
    returns their metadata (row and byte counts per table and the
    workload parameters derived from the seed)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET preserve_insertion_order = true")
    s = int(seed)
    meta = {"seed": s, "tables": {}}
    for part in parts:
        m = {"star": _star, "docs": _docs, "stream": _stream}[part](con, s, out)
        meta["tables"].update(m.pop("tables"))
        meta.update(m)
    return meta


def _star(con, s, out):
    wl = whales(s)
    wlist = ", ".join(str(w) for w in wl)
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    nv = len(VOCAB)

    _copy(con, """SELECT CAST(r AS INTEGER) AS r_regionkey,
        ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1] AS r_name
        FROM range(5) t(r) ORDER BY r""", f"{out}/region.parquet")
    _copy(con, """SELECT CAST(n AS INTEGER) AS n_nationkey,
        'NATION ' || n AS n_name, CAST(n % 5 AS INTEGER) AS n_regionkey
        FROM range(25) t(n) ORDER BY n""", f"{out}/nation.parquet")
    _copy(con, f"""SELECT CAST(c AS BIGINT) AS c_custkey,
        'Customer#' || lpad(CAST(c AS VARCHAR), 9, '0') AS c_name,
        CAST({_h(s, 'c', tag='cn')} % 25 AS INTEGER) AS c_nationkey,
        CAST({_h(s, 'c', tag='cb')} % 1100000 AS DOUBLE) / 100 - 999.99 AS c_acctbal,
        ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][
          CAST({_h(s, 'c', tag='cs')} % 5 AS INTEGER) + 1] AS c_mktsegment
        FROM range(1, {N_CUSTOMERS + 1}) t(c) ORDER BY c""", f"{out}/customer.parquet")
    _copy(con, f"""SELECT CAST(k AS BIGINT) AS s_suppkey,
        'Supplier#' || lpad(CAST(k AS VARCHAR), 9, '0') AS s_name,
        CAST({_h(s, 'k', tag='sn')} % 25 AS INTEGER) AS s_nationkey,
        CAST({_h(s, 'k', tag='sb')} % 1100000 AS DOUBLE) / 100 - 999.99 AS s_acctbal
        FROM range(1, {N_SUPPLIERS + 1}) t(k) ORDER BY k""", f"{out}/supplier.parquet")
    _copy(con, f"""SELECT CAST(p AS BIGINT) AS p_partkey,
        {vocab}[CAST({_h(s, 'p', tag='p1')} % {nv} AS INTEGER) + 1] || ' ' ||
        {vocab}[CAST({_h(s, 'p', tag='p2')} % {nv} AS INTEGER) + 1] AS p_name,
        'Brand#' || CAST(1 + {_h(s, 'p', tag='pb')} % 5 AS VARCHAR)
          || CAST(1 + {_h(s, 'p', tag='pc')} % 5 AS VARCHAR) AS p_brand,
        ['STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO'][
          CAST({_h(s, 'p', tag='pt')} % 6 AS INTEGER) + 1] || ' TIN' AS p_type,
        CAST(1 + {_h(s, 'p', tag='ps')} % 50 AS INTEGER) AS p_size,
        CAST(90000 + {_h(s, 'p', tag='pr')} % 110000 AS DOUBLE) / 100 AS p_retailprice
        FROM range(1, {N_PARTS + 1}) t(p) ORDER BY p""", f"{out}/part.parquet")
    con.execute(f"""CREATE TABLE o AS
        WITH per AS (SELECT c, CASE WHEN c IN ({wlist}) THEN {WHALE_ORDERS}
                       ELSE {_h(s, 'c', tag='no')} % {MAX_ORDERS + 1} END AS n
                     FROM range(1, {N_CUSTOMERS + 1}) t(c)),
             ex AS (SELECT c, unnest(range(CAST(n AS BIGINT))) AS j FROM per)
        SELECT CAST(row_number() OVER (ORDER BY {_h(s, 'c', 'j', tag='ok')}, c, j) AS BIGINT)
                 AS o_orderkey,
               CAST(c AS BIGINT) AS o_custkey, c, j
        FROM ex""")
    _copy(con, f"""SELECT o_orderkey, o_custkey,
        ['F','O','P'][CAST({_h(s, 'o_orderkey', tag='os')} % 3 AS INTEGER) + 1] AS o_orderstatus,
        CAST({_h(s, 'o_orderkey', tag='ot')} % 50000000 AS DOUBLE) / 100 AS o_totalprice,
        TIMESTAMP '1992-01-01' + INTERVAL 1 DAY *
          CAST({_h(s, 'o_orderkey', tag='od')} % 2400 AS INTEGER) AS o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][
          CAST({_h(s, 'o_orderkey', tag='op')} % 5 AS INTEGER) + 1] AS o_orderpriority
        FROM o ORDER BY o_orderkey""", f"{out}/orders.parquet")
    _copy(con, f"""WITH ex AS (SELECT o_orderkey, unnest(range(1, 2 + CAST(
            {_h(s, 'o_orderkey', tag='nl')} % {MAX_LINES} AS INTEGER))) AS l FROM o)
        SELECT o_orderkey AS l_orderkey,
          CAST(1 + {_h(s, 'o_orderkey', 'l', tag='lp')} % {N_PARTS} AS BIGINT) AS l_partkey,
          CAST(1 + {_h(s, 'o_orderkey', 'l', tag='ls')} % {N_SUPPLIERS} AS BIGINT) AS l_suppkey,
          CAST(l AS INTEGER) AS l_linenumber,
          CAST(1 + {_h(s, 'o_orderkey', 'l', tag='lq')} % 50 AS DOUBLE) AS l_quantity,
          CAST({_h(s, 'o_orderkey', 'l', tag='le')} % 10000000 AS DOUBLE) / 100 AS l_extendedprice,
          CAST({_h(s, 'o_orderkey', 'l', tag='ld')} % 11 AS DOUBLE) / 100 AS l_discount,
          CAST({_h(s, 'o_orderkey', 'l', tag='lt')} % 9 AS DOUBLE) / 100 AS l_tax,
          ['R','A','N'][CAST({_h(s, 'o_orderkey', 'l', tag='lr')} % 3 AS INTEGER) + 1] AS l_returnflag,
          ['O','F'][CAST({_h(s, 'o_orderkey', 'l', tag='lx')} % 2 AS INTEGER) + 1] AS l_linestatus,
          TIMESTAMP '1992-01-02' + INTERVAL 1 DAY *
            CAST({_h(s, 'o_orderkey', 'l', tag='sd')} % 2520 AS INTEGER) AS l_shipdate
        FROM ex ORDER BY l_orderkey, l_linenumber""", f"{out}/lineitem.parquet")

    tables = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
    return {"whales": wl, "tables": _table_meta(con, out, tables),
            "fixture_roots": fixture_roots(con, s, wl), "bulk": bulk_sample(s, wl)}


def _docs(con, s, out):
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    nv = len(VOCAB)
    # base word arrays, then families / copies / leaks / boilerplate
    # derived from them
    bp = "[" + ", ".join(f"'{b}'" for b in BOILERPLATE) + "]"
    con.execute(f"CREATE TABLE vocab AS SELECT unnest({vocab}) AS w, "
                f"CAST(unnest(range({nv})) AS BIGINT) AS i")
    con.execute(f"""CREATE TABLE base AS
        WITH pos AS (SELECT d, unnest(range(CAST(30 + {_h(s, 'd', tag='nw')} % 110 AS BIGINT))) AS j
                     FROM range({N_DOCS}) t(d))
        SELECT d, list(v.w ORDER BY j) AS w
        FROM pos JOIN vocab v ON v.i = {_h(s, 'd', 'j', tag='w')} % {nv}
        GROUP BY d""")
    con.execute(f"""CREATE TABLE docs AS
        WITH src AS (SELECT d,
            CASE WHEN d >= 100 AND d % 100 = 55 THEN (d // 100) % {BENCH_DOCS}
                 WHEN d % 10 IN (1, 2) THEN d - d % 10
                 WHEN d % 50 = 7 THEN d - 7
                 ELSE d END AS s,
            d >= 100 AND d % 100 = 55 OR d % 10 IN (1, 2) AS mutate
          FROM range({N_DOCS}) t(d)),
        body AS (SELECT src.d, CASE WHEN mutate THEN
              list_transform(range(len(b.w)), j -> CASE
                WHEN {_h(s, 'src.d', 'j', tag='mu')} % 14 = 0
                THEN {vocab}[CAST({_h(s, 'src.d', 'j', tag='mw')} % {nv} AS INTEGER) + 1]
                ELSE b.w[j + 1] END)
              ELSE b.w END AS w
          FROM src JOIN base b ON b.d = src.s)
        SELECT d, CASE
            WHEN d % 97 = 3 THEN array_to_string([{bp}[1 + d % 4], {bp}[1 + (d + 1) % 4]], ' ')
            WHEN {_h(s, 'd', tag='bp')} % 4 = 0
              THEN {bp}[1 + CAST({_h(s, 'd', tag='bq')} % 4 AS INTEGER)] || ' ' || array_to_string(w, ' ')
            ELSE array_to_string(w, ' ') END AS text
        FROM body""")
    _copy(con, f"""SELECT CAST(d AS BIGINT) AS doc_id, text,
        ['en','en','en','de','fr','es','zh'][CAST({_h(s, 'd', tag='lg')} % 7 AS INTEGER) + 1] AS lang,
        'src' || CAST({_h(s, 'd', tag='sr')} % 20 AS VARCHAR) AS source,
        CAST(length(text) AS BIGINT) AS n_chars
        FROM docs ORDER BY d""", f"{out}/documents.parquet")
    return {"tables": _table_meta(con, out, ["documents"])}


def _stream(con, s, out):
    # row j of file k; late rows get ids outside the base range
    os.makedirs(f"{out}/stream")
    con.execute(f"""CREATE TABLE ev AS
        WITH g AS (SELECT k, j FROM range({STREAM_FILES}) a(k), range({STREAM_ROWS}) b(j)),
        basecols AS (SELECT k, j, CAST(k * 1000 + j AS BIGINT) AS event_id,
            TIMESTAMP '2024-01-01' + INTERVAL 1 SECOND * (k * 60) + INTERVAL 1 MILLISECOND * (j * 200) AS ts
          FROM g),
        src AS (SELECT k, j,
            CASE WHEN k > 0 AND j % 10 = 9 THEN k - 1 ELSE k END AS sk,
            k > 0 AND j % 25 = 13 AS late
          FROM g)
        SELECT src.k AS file, src.j AS row,
          CASE WHEN late THEN CAST(10000000 + src.k * 1000 + src.j AS BIGINT) ELSE b.event_id END AS event_id,
          CASE WHEN late THEN TIMESTAMP '2023-12-31' - INTERVAL 1 SECOND * src.j ELSE b.ts END AS ts,
          CAST(CASE WHEN {_h(s, 'b.event_id', tag='hot')} % 10 < 3
               THEN {_h(s, 'b.event_id', tag='hu')} % 5
               ELSE 5 + {_h(s, 'b.event_id', tag='u')} % 5000 END AS BIGINT) AS user_id,
          ['view','click','purchase','error'][CAST({_h(s, 'b.event_id', tag='et')} % 4 AS INTEGER) + 1] AS event_type,
          CAST({_h(s, 'b.event_id', tag='v')} % 100000 AS DOUBLE) / 100 AS value,
          '{{"k": ' || CAST({_h(s, 'b.event_id', tag='pk')} % 100 AS VARCHAR) || '}}' AS props
        FROM src JOIN basecols b ON b.k = src.sk AND b.j = src.j""")
    con.execute(f"""COPY (SELECT file, event_id, ts, user_id, event_type, value, props
        FROM ev ORDER BY file, row) TO '{out}/stream_parts' (FORMAT PARQUET, PARTITION_BY (file))""")
    for k in range(STREAM_FILES):
        part = f"{out}/stream_parts/file={k}"
        (only,) = os.listdir(part)
        os.rename(f"{part}/{only}", f"{out}/stream/f{k:05d}.parquet")
    shutil.rmtree(f"{out}/stream_parts")

    return {"tables": {"stream": {
                "rows": STREAM_FILES * STREAM_ROWS, "files": STREAM_FILES,
                "bytes": sum(os.path.getsize(f"{out}/stream/{f}")
                             for f in os.listdir(f"{out}/stream"))}},
            "stream_rate": STREAM_RATE, "stream_rows": STREAM_ROWS,
            "stream_delay": STREAM_DELAY}


def fixture_roots(con, seed, wl):
    """The request sequence, in pairs: an ordinary customer with exactly
    FIXTURE_ORDERS orders and 30-34 lineitems, then a whale; which
    customers fill the slots is seeded. Whole pairs and fixed sizes keep
    a run's work the same for every seed."""
    ordinary = [r[0] for r in con.execute(
        f"""SELECT o_custkey FROM o WHERE o_custkey NOT IN ({", ".join(map(str, wl))})
            GROUP BY o_custkey HAVING count(*) = {FIXTURE_ORDERS}
              AND sum(1 + {_h(seed, 'o_orderkey', tag='nl')} % {MAX_LINES}) BETWEEN 30 AND 34
            ORDER BY {_h(seed, 'o_custkey', tag='fx')}, o_custkey""").fetchall()]
    return [{"custkey": wl[n // 2 % len(wl)], "whale": True} if n % 2
            else {"custkey": ordinary[n // 2 % len(ordinary)], "whale": False}
            for n in range(FIXTURE_ROOTS)]


def bulk_sample(seed, wl):
    """The hash-sampled bulk slice: customers whose salted md5 starts with
    0, 1 or 2 (3/16), minus every whale but one seeded whale, which is
    always in (so each seed's slice carries exactly one whale)."""
    salt = f"s{int(seed)}"
    keep = wl[int(seed) % len(wl)]
    others = ", ".join(str(w) for w in wl if w != keep)
    cond = (f"(substring(md5(concat(cast(c_custkey as string), '{salt}')), 1, 1) "
            f"in ('0', '1', '2') and c_custkey not in ({others})) or c_custkey = {keep}")
    return {"salt": salt, "whale": keep, "condition": cond}


def ensure(seed, cache, parts=PARTS):
    """Path of the cached corpus for `seed`, generating the missing ones of
    `parts`. Each part is generated in a scratch directory, moved in, and
    marked done by its `part-<name>.json`; `meta.json` merges the parts
    present."""
    out = os.path.join(cache, "corpus", f"seed-{int(seed)}")
    os.makedirs(out, exist_ok=True)
    for part in parts:
        mark = os.path.join(out, f"part-{part}.json")
        if os.path.exists(mark):
            continue
        tmp = os.path.join(out, f".tmp-{part}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = generate(seed, tmp, [part])
        for f in os.listdir(tmp):
            dst = os.path.join(out, f)
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(os.path.join(tmp, f), dst)
        os.rmdir(tmp)
        with open(mark, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
    merged = {"tables": {}}
    for part in PARTS:
        mark = os.path.join(out, f"part-{part}.json")
        if os.path.exists(mark):
            with open(mark) as f:
                m = json.load(f)
            merged["tables"].update(m.pop("tables"))
            merged.update(m)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    return out


if __name__ == "__main__":
    print(ensure(int(sys.argv[1]), sys.argv[2] if len(sys.argv) > 2 else ".bench_build",
                 sys.argv[3:] or PARTS))
