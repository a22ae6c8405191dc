"""Per-workload inputs and operation plans.

`prepare(workload, seed, work)` writes the seeded parquet inputs under
`work/raw`, writes `work/plan.tsv` (one operation per line, read by the
Scala harness) and returns the DuckDB views the checks run against.
The same SQL text runs in Spark and in DuckDB wherever the dialects
agree; sums go through DECIMAL so both engines compute them exactly.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

# Sizes. Orders carry ~4 lines each, so FULL_ORDERS gives ~600k rows.
FULL_ORDERS = 15_000
MIX_ORDERS = 3_000
INGEST_BASE_ORDERS = 5_000
INGEST_BATCH_ORDERS = 250    # ~1,000 rows per append
INGEST_APPENDS_PER_CYCLE = 5
INGEST_CYCLES = 60
INGEST_UPSERT_ROWS = 64
BULK_ORDERS = 50_000

COLS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_shipmode, l_comment")

# TPC-H Q1 with exact DECIMAL sums in place of the AVGs (DuckDB and
# Spark type AVG(DECIMAL) differently).
Q1 = ("SELECT l_returnflag, l_linestatus, "
      "sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty, "
      "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_base_price, "
      "sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(3,2))) AS sum_disc_price, "
      "sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(3,2)) "
      "* CAST(1 + l_tax AS DECIMAL(3,2))) AS sum_charge, "
      "sum(CAST(l_discount AS DECIMAL(3,2))) AS sum_disc, count(*) AS count_order "
      "FROM lineitem WHERE l_shipdate <= TIMESTAMP '{cutoff}' "
      "GROUP BY l_returnflag, l_linestatus")
SUM_DOUBLES = ("SELECT sum(CAST(l_quantity AS DECIMAL(12,2))) AS q, "
               "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS p, "
               "sum(CAST(l_discount AS DECIMAL(3,2))) AS d, sum(CAST(l_tax AS DECIMAL(3,2))) AS t "
               "FROM lineitem")
GROUP_STRINGS = ("SELECT l_shipmode, l_returnflag, l_linestatus, count(*) AS n, "
                 "min(l_comment) AS min_comment, max(l_comment) AS max_comment "
                 "FROM lineitem GROUP BY l_shipmode, l_returnflag, l_linestatus")
# Reads every column (the stand-in for hash(*), which has no DuckDB twin).
EVERY_COLUMN = ("SELECT count(*) AS n, sum(l_orderkey) AS k, sum(l_partkey) AS p, "
                "sum(l_suppkey) AS s, sum(l_linenumber) AS ln, "
                "sum(CAST(l_quantity AS DECIMAL(12,2))) AS q, "
                "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS e, "
                "sum(CAST(l_discount AS DECIMAL(3,2))) AS d, sum(CAST(l_tax AS DECIMAL(3,2))) AS t, "
                "sum(length(l_returnflag) + length(l_linestatus) + length(l_shipmode) "
                "+ length(l_comment)) AS chars, min(l_shipdate) AS lo, max(l_shipdate) AS hi, "
                "min(l_weight) AS w_lo, max(l_weight) AS w_hi, min(l_ratio) AS r_lo, max(l_ratio) AS r_hi, "
                "sum(l_rowhash % 1000) AS h, "
                "sum(l_loadid) AS loads FROM lineitem")
FINGERPRINT = ("SELECT count(*) AS n, sum(l_orderkey) AS sum_key, sum(l_linenumber) AS sum_line, "
               "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty, "
               "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price, "
               "sum(length(l_comment)) AS comment_chars, min(l_shipdate) AS lo, "
               "max(l_shipdate) AS hi FROM {table}")

# query_mix: (query name, input tables it reads, twin). q15/q16 run over the
# run's own fls copy of lineitem. Five queries of the planned twelve are
# left out so that a run fits a full evaluation's time budget: q103 (it
# also caches its MERGE result in a fixed directory outside the
# benchmark's tree), q91 and q70 (~4 s per pass each; q93 stays for the
# range-frame family), q22 and q26 (~4 s each in the cold checked pass).
# The third field names the fls query a parquet query is the twin of.
MIX = [
    ("q15_fls_tpch_q1", ["lineitem"], ""),
    ("q01_tpch_q1", ["lineitem"], "q15_fls_tpch_q1"),
    ("q16_fls_filter_prune", ["lineitem"], ""),
    ("q02_filter_project", ["lineitem"], "q16_fls_filter_prune"),
    ("q03_join_agg", ["lineitem", "orders", "customer"], ""),
    ("q30_text_fingerprint", ["documents"], ""),
    ("q93_time_range_frame", ["events"], ""),
    ("q43_dedup_embedding_blocked", ["embeddings"], ""),
]


def _op(kind, name, pass_, rows, spark, spark_check="", duck_pre="", duck_check="", twin=""):
    """One plan line. `twin` names the fls op this op is the parquet
    control of: the same work over parquet, run next to it each pass."""
    fields = [kind, name, str(pass_), str(rows), twin, spark, spark_check, duck_pre, duck_check]
    assert all("\t" not in f and "\n" not in f for f in fields), name
    return "\t".join(fields)


def _ts(us):
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%d %H:%M:%S")


def _with_twins(ops, n):
    """Each query over fls (`lineitem`) and its parquet twin (`lineitem_pq`)."""
    lines = []
    for name, sql in ops:
        lines.append(_op("query", name, 0, n, sql, duck_check=sql))
        lines.append(_op("query", f"{name}.parquet", 0, n,
                         sql.replace("FROM lineitem", "FROM lineitem_pq"), duck_check=sql, twin=name))
    return lines


def _scan_full(seed, raw):
    n = datagen.lineitem_only(seed, f"{raw}/lineitem.parquet", FULL_ORDERS, shuffle=True)
    return _with_twins([("q1", Q1.format(cutoff="1998-09-02 00:00:00")),
                        ("q1_early", Q1.format(cutoff="1997-06-01 00:00:00")),
                        ("sum_doubles", SUM_DOUBLES), ("group_strings", GROUP_STRINGS),
                        ("every_column", EVERY_COLUMN)], n)


def _scan_selective(seed, raw):
    path = f"{raw}/lineitem.parquet"
    # row groups of 4096 rows, so the parquet twin can prune as well
    n = datagen.lineitem_only(seed, path, FULL_ORDERS, shuffle=False, row_group_size=4096)
    t = pq.read_table(path, columns=["l_orderkey", "l_shipdate"])
    keys = t["l_orderkey"].to_numpy()
    days = t["l_shipdate"].cast(pa.int64()).to_numpy()
    rng = np.random.default_rng([seed, 4])
    ops = []
    for i in range(3):
        k = int(rng.choice(keys))
        ops.append((f"point_{i}", f"SELECT * FROM lineitem WHERE l_orderkey = {k}"))
    for i in range(2):
        ks = ", ".join(str(int(k)) for k in rng.choice(keys, 5))
        ops.append((f"in_list_{i}", f"SELECT * FROM lineitem WHERE l_orderkey IN ({ks})"))
    for i in range(3):
        lo = int(rng.choice(days)) // datagen.DAY_US * datagen.DAY_US
        ops.append((f"ship_range_{i}",
                    "SELECT l_returnflag, count(*) AS n, "
                    "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue FROM lineitem "
                    f"WHERE l_shipdate >= TIMESTAMP '{_ts(lo)}' "
                    f"AND l_shipdate < TIMESTAMP '{_ts(lo + 2 * datagen.DAY_US)}' "
                    "GROUP BY l_returnflag"))
    return _with_twins(ops, n)


def _ingest(seed, raw):
    """Base table, then cycles of a bulk write, appends, one DELETE and
    one MERGE."""
    n_batches = INGEST_CYCLES * INGEST_APPENDS_PER_CYCLE
    n_orders = INGEST_BASE_ORDERS + n_batches * INGEST_BATCH_ORDERS
    rng = np.random.default_rng([seed, 5])
    koff = datagen.key_offset(seed)
    li = datagen.lineitem(rng, n_orders, koff, shuffle=False)
    order = pc.subtract(li["l_orderkey"], koff).to_numpy()
    batch = (order - INGEST_BASE_ORDERS) // INGEST_BATCH_ORDERS
    datagen.write(li.filter(pa.array(batch < 0)), f"{raw}/ingest_base.parquet")
    rest = li.filter(pa.array(batch >= 0))
    rest = rest.append_column("batch", pa.array(batch[batch >= 0].astype(np.int32)))
    datagen.write(rest, f"{raw}/batches.parquet")
    # MERGE sources: updated copies of rows appended earlier in the same
    # cycle, plus as many rows under fresh keys (inserts).
    ups = []
    for c in range(INGEST_CYCLES):
        b = rest.filter(pc.equal(rest["batch"], c * INGEST_APPENDS_PER_CYCLE + 2))
        upd = b.slice(0, INGEST_UPSERT_ROWS)
        upd = upd.set_column(upd.schema.get_field_index("l_quantity"), "l_quantity",
                             pc.add(upd["l_quantity"], 1.0))
        new = b.slice(INGEST_UPSERT_ROWS, INGEST_UPSERT_ROWS)
        new = new.set_column(0, "l_orderkey", pc.add(new["l_orderkey"], 90_000_000))
        for part in (upd, new):
            ups.append(part.set_column(part.schema.get_field_index("batch"), "batch",
                                       pa.array(np.full(part.num_rows, c, dtype=np.int32))))
    datagen.write(pa.concat_tables(ups), f"{raw}/upserts.parquet")
    n_bulk = datagen.lineitem_only(seed, f"{raw}/bulk_src.parquet", BULK_ORDERS, shuffle=True)

    check = FINGERPRINT.format(table="ingest")
    lines = []
    bulk_check = FINGERPRINT.format(table="bulk_src")
    for c in range(INGEST_CYCLES):
        lines.append(_op("bulk", f"bulk_{c}", c, n_bulk, "", FINGERPRINT.format(table="bulk"),
                         duck_check=bulk_check))
        lines.append(_op("bulk", f"bulk_{c}.parquet", c, n_bulk, "",
                         FINGERPRINT.format(table="bulk_pq"), duck_check=bulk_check,
                         twin=f"bulk_{c}"))
        for j in range(INGEST_APPENDS_PER_CYCLE):
            b = c * INGEST_APPENDS_PER_CYCLE + j
            sql = f"INSERT INTO ingest SELECT {COLS} FROM batches WHERE batch = {b}"
            lines.append(_op("append", f"append_{b}", c, 0, sql, duck_pre=sql))
            lines.append(_op("append", f"append_{b}.parquet", c, 0,
                             sql.replace("INTO ingest", "INTO ingest_pq"), twin=f"append_{b}"))
        # DELETE a few orders of this cycle's second append.
        lo = koff + INGEST_BASE_ORDERS + (c * INGEST_APPENDS_PER_CYCLE + 1) * INGEST_BATCH_ORDERS
        lo += int(rng.integers(0, INGEST_BATCH_ORDERS - 8))
        sql = f"DELETE FROM ingest WHERE l_orderkey >= {lo} AND l_orderkey < {lo + 8}"
        lines.append(_op("delete", f"delete_{c}", c, 0, sql, duck_pre=sql))
        src = f"(SELECT {COLS} FROM upserts WHERE batch = {c})"
        on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
        merge = (f"MERGE INTO ingest t USING {src} s ON {on} "
                 "WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity "
                 "WHEN NOT MATCHED THEN INSERT *")
        replay = (f"UPDATE ingest SET l_quantity = s.l_quantity FROM {src} s "
                  "WHERE ingest.l_orderkey = s.l_orderkey AND ingest.l_linenumber = s.l_linenumber; "
                  f"INSERT INTO ingest SELECT {COLS} FROM {src} s WHERE NOT EXISTS "
                  f"(SELECT 1 FROM ingest t WHERE {on})")
        # The table state after the cycle's last commit checks the cycle.
        lines.append(_op("merge", f"merge_{c}", c, 0, merge, check, replay, check))
    return lines


def _query_mix(seed, raw):
    rows = datagen.star_schema(seed, raw, MIX_ORDERS)
    return [_op("mix", name, 0, sum(rows[t] for t in tables), name, twin=twin)
            for name, tables, twin in MIX]


def prepare(workload, seed, work):
    """Writes inputs and plan; returns the DuckDB set-up: views and the
    statements that create mutable tables."""
    raw = f"{work}/raw"
    os.makedirs(raw, exist_ok=True)
    lines = {"scan_full": _scan_full, "scan_selective": _scan_selective,
             "ingest": _ingest, "query_mix": _query_mix}[workload](seed, raw)
    with open(f"{work}/plan.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")
    views = {os.path.splitext(p)[0]: f"{raw}/{p}" for p in sorted(os.listdir(raw))}
    create = []
    if workload == "ingest":
        create.append(f"CREATE TABLE ingest AS SELECT {COLS} FROM ingest_base")
    return views, create
