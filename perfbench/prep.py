"""Seeded inputs and oracle results for the graft benchmark.

`generate(out_dir, seed, scale)` writes the benchmark's parquet tables: the
TPC-H-shaped star schema, the `documents` and `embeddings` tables the LLM
kernels read, and the `ivm-stream` feed (lineitem split into micro-batches,
plus dimension changelogs). The same seed always gives the same bytes of
data; the layout (one snappy row group per table, microsecond timestamps
without a zone) matches the engine's usual test tables.

`expected(data_dir, oracle_sql, triggers)` runs each query's oracle SQL in
DuckDB and, for the stream, the join-aggregate over each prefix of the feed,
and returns `{op: (rows, digest)}` with the order-insensitive digest the
harness recomputes over the rows Spark returns (`_canon` / `row_digest` below
are mirrored by `Oracle.scala`).
"""
import datetime
import hashlib
import math
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream shape: the feed is lineitem in this many micro-batches; a dimension
# changelog lands before every DELTA_EVERY-th trigger
STREAM_BATCHES = 40
DELTA_EVERY = 5
DELTA_KEYS = 40

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
LANGS = ["en", "es", "zh", "de", "fr"]

EPOCH = datetime.datetime(1970, 1, 1)


def _day(y, m, d):
    return (datetime.datetime(y, m, d) - EPOCH).days


def _ts(days):
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(path, cols):
    t = pa.table(cols)
    pq.write_table(t, path, compression="snappy", row_group_size=1 << 30)
    return t.num_rows


def generate(out_dir, seed, scale):
    """Write every input table for `seed` at `scale` (1.0 = 6M lineitems);
    returns the row count of each table and stream batch."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = {}

    def write(name, cols):
        rows[name] = _write(out / f"{name}.parquet", cols)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(int(10_000 * scale), 50)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_doc = int(6_000_000 * scale), int(50_000 * scale)
    n_emb = int(20_000 * scale)

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    write("part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    prio = rng.integers(0, 5, n_ord)
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(rng.integers(_day(1995, 1, 1), _day(2001, 8, 2),
                                        n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[prio]})
    line = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _cents(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(_day(1995, 1, 2), _day(2001, 11, 5),
                                       n_line))}
    write("lineitem", line)

    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[.4, .15, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})

    # the stream: every lineitem row lands in one seeded micro-batch; the
    # changelogs re-prioritize ('U') or drop ('D') a seeded set of orders
    stream = out / "stream"
    stream.mkdir(exist_ok=True)
    batch_of = rng.integers(0, STREAM_BATCHES, n_line)
    price_c = np.floor(line["l_extendedprice"] * 100 + 0.5).astype("int64")
    for b in range(STREAM_BATCHES):
        sel = batch_of == b
        rows[f"batch_{b}"] = _write(stream / f"batch_{b}.parquet", {
            "o_orderkey": line["l_orderkey"][sel], "price_c": price_c[sel]})
    for b in range(DELTA_EVERY - 1, STREAM_BATCHES, DELTA_EVERY):
        keys = rng.choice(n_ord, DELTA_KEYS, replace=False).astype("int64")
        _write(stream / f"delta_{b}.parquet", {
            "o_orderkey": keys,
            "o_orderpriority": np.array(PRIORITIES)[
                rng.integers(0, 5, DELTA_KEYS)],
            "op": np.where(rng.random(DELTA_KEYS) < 0.2, "D", "U")})
    return rows


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]


def _canon(v):
    """One value as the digest sees it; `Oracle.canon` is the mirror."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return str(int(v)) if v == v.to_integral_value() else _canon(float(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return "f" + str(math.floor(v * 1e6 + 0.5))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t" + str((d.days * 86_400 + d.seconds) * 1_000_000
                         + d.microseconds)
    if isinstance(v, datetime.date):
        return "d" + str((v - EPOCH.date()).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    s = str(v)
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")


def row_digest(columns, rows):
    """(row count, order-insensitive digest): the rows' canonical lines
    (columns in name order) hashed one by one and summed mod 2^64."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\t".join(_canon(r[i]) for i in order)
        h = hashlib.sha256(line.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    return len(rows), f"{total:016x}"


# the stream's view after trigger k: facts of batches 0..k joined to the
# dimension as of trigger k
STREAM_VIEW_SQL = (
    "SELECT d.o_orderpriority, CAST(SUM(f.price_c) AS BIGINT) AS rev_c, "
    "CAST(COUNT(f.price_c) AS BIGINT) AS n, MAX(f.price_c) AS max_c "
    "FROM facts f JOIN dim d ON f.o_orderkey = d.o_orderkey "
    "WHERE f.b <= {k} GROUP BY 1")


def expected(data_dir, oracle_sql, triggers=0):
    """Oracle results: each query of `oracle_sql` ({name: sql}) and
    `trigger_<k>`, the stream's view after folding batches 0..k, for every
    k below `triggers`."""
    data = Path(data_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data / (t + '.parquet')}')")
    out = {}
    for name, sql in oracle_sql.items():
        r = con.sql(sql)
        out[name] = row_digest(r.columns, r.fetchall())
    stream = data / "stream"
    if triggers:
        con.execute("CREATE TABLE dim AS SELECT o_orderkey, o_orderpriority "
                    "FROM orders")
        con.execute("CREATE TABLE facts AS SELECT CAST(regexp_extract("
                    "filename, 'batch_([0-9]+)', 1) AS INTEGER) AS b, "
                    "o_orderkey, price_c FROM read_parquet("
                    f"'{stream}/batch_*.parquet', filename = true)")
    for k in range(triggers):
        delta = stream / f"delta_{k}.parquet"
        if delta.exists():
            con.execute(f"DELETE FROM dim WHERE o_orderkey IN (SELECT "
                        f"o_orderkey FROM read_parquet('{delta}'))")
            con.execute(f"INSERT INTO dim SELECT o_orderkey, o_orderpriority "
                        f"FROM read_parquet('{delta}') WHERE op = 'U'")
        r = con.sql(STREAM_VIEW_SQL.format(k=k))
        out[f"trigger_{k}"] = row_digest(r.columns, r.fetchall())
    con.close()
    return out
