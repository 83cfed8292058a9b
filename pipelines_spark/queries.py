"""The engine's query inventory — one callable per implemented
operator family from SURVEY §2 (+ the LLM-data-pipeline operators).

Every callable takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB oracle SQL lives in ``pipelines_spark.oracles``. Keys
here and there must stay in sync — tests/test_oracle_parity.py
enforces it by running both engines and hash-comparing.

Column aliases are part of the contract (the correctness driver sorts
columns by name before hashing), so every computed column is aliased
identically in both engines. Float determinism convention: SUM/AVG
over float columns goes through DECIMAL (exact, order-independent
addition — float summation order differs between engines AND between
Spark partitionings, so round(sum(double)) can flip at a .xx5
boundary); the decimal result is cast back to DOUBLE in both engines.
Integer sums are exact natively; per-row float expressions are
deterministic and only need identical rounding.

That convention is written in one place, ``functions/exact.py``, and
called here, never spelled out: ``exact_sum`` / ``exact_sum_sql``
write every exact float sum, ``exact_mean`` / ``exact_mean_sparksql``
every exact mean and ``exact_div_round`` / ``exact_div_round_sql``
every exact ratio (a source check in tests/test_functions.py keeps
hand-written copies out).
"""

from __future__ import annotations

import math
import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelines_spark.functions.datetime_ops import derive_partition_columns
from pipelines_spark.functions.exact import (
    exact_div_round,
    exact_div_round_sql,
    exact_mean,
    exact_mean_sparksql,
    exact_sum,
    exact_sum_sql,
)
from pipelines_spark.functions.json_ops import nest_payload
from pipelines_spark.llm.dedup import (
    connected_components,
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from pipelines_spark.llm.similarity import (
    brute_force_topk,
    ivf_kmeans_topk,
    ivf_topk,
    srp_bucketed_topk,
)
from pipelines_spark.llm.text import (
    document_fingerprint,
    language_id,
    mean_word_length,
    quality_score,
    regex_token_count,
    token_count,
)
from pipelines_spark.operators.dedup import last_row_per_key
from pipelines_spark.operators.joins import asof_join, knn_join
from pipelines_spark.operators.spine import find_gaps, time_spine

def _epoch_us(col: str):
    """Naive epoch microseconds for a TIMESTAMP_NTZ column.

    ``unix_micros`` rejects TIMESTAMP_NTZ, and casting NTZ → LTZ first
    would make the value depend on the session time zone. NTZ-to-NTZ
    ``timestampdiff`` is pure wall-clock arithmetic — deterministic on
    any driver session, and identical to DuckDB's ``epoch_us`` over its
    (naive) TIMESTAMP.
    """
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        f"CAST({col} AS TIMESTAMP_NTZ))"
    )


ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register(spark: SparkSession, sf_dir: str, tables=ALL_TABLES) -> None:
    """Register sf_dir tables as temp views.

    This is the only place a scan is widened: an under-split fact
    table gains one size-derived hash exchange here, and every
    operator downstream keeps the partitioning it is handed.

    ``events.ts`` is schema-adaptive: generator versions that write
    nanosecond parquet timestamps are read as long
    (spark.sql.legacy.parquet.nanosAsLong — Spark's vectorized reader
    rejects TIMESTAMP_NS) and floor-converted to microseconds, the
    same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP;
    generator versions that write native µs timestamps pass through
    untouched. Both engines see identical values either way.

    Each table's frame (read + ``ts`` normalisation + widen exchange)
    is built once per session and kept in a session-scoped registry:
    ``spark.read.parquet`` runs a schema-inference job per call, and a
    long-lived session re-registers the same files on every query
    build. An entry is keyed on the session, the table and its
    resolved path, and is reused only while all of these still match
    what it was built from: the file's Hadoop status (length and
    modification time — of every file below it for a directory), the
    session's default parallelism, and the widen inputs
    (``SPARK_GRAFT_NO_WIDEN``, ``SPARK_GRAFT_WIDEN_SPLIT_BYTES``). Any
    mismatch rebuilds and replaces the entry, so a rewritten file is
    read again; a stopped (collected) session's entries go with it.
    """
    parallelism = spark.sparkContext.defaultParallelism
    split = _widen_split_bytes()
    with _REGISTRY_LOCK:
        frames = _REGISTRY.setdefault(spark, {})
    for t in tables:
        if t == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        path, stamp = _file_stamp(spark, f"{sf_dir}/{t}.parquet")
        inputs = (stamp, parallelism, split)
        with _REGISTRY_LOCK:
            entry = frames.get((t, path))
        if entry is not None and entry[0] == inputs:
            entry[1].createOrReplaceTempView(t)
            continue
        df = spark.read.parquet(path)
        if t == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
            # legacy nanos-as-long data: floor to µs, then cast to NTZ
            # so ts has the same type as current-generator data
            df = df.withColumn(
                "ts",
                F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
            )
        if t in _WIDE_TABLES and split is not None:
            n_target = _widen_target(df, parallelism, t, split)
            if n_target is not None:
                # r12 (guide §2.5 input skew): a single-row-group
                # parquet file scans as ONE task, pinning the whole map
                # side of every consumer — scan decode, filters,
                # partial aggregates, shingling, vector math — to one
                # core of N. One hash exchange immediately after the
                # read parallelizes everything downstream. Small dims
                # (region/nation/supplier/customer/part) are excluded —
                # they broadcast, and an exchange before a broadcast is
                # pure overhead. Kill-switch: SPARK_GRAFT_NO_WIDEN.
                #
                # HASH partitioning on the table's unique key, not
                # round-robin: a keyless repartition first pays a LOCAL
                # SORT of its input (sortBeforeRepartition, guide §2.5)
                # — serial on the one scan task, i.e. exactly where the
                # bottleneck already is (measured: q3 0.90→1.39 s with
                # round-robin vs no widen). Hashing a unique key skips
                # the sort, distributes evenly, and is deterministic
                # under task retry by construction.
                #
                # r13 (guide §2.2/§2.5): the target split count is
                # derived from the scan's own size estimate — one task
                # per _WIDEN_SPLIT_BYTES of input, weighted by the
                # table's measured per-byte compute, capped at the
                # session parallelism — instead of flat parallelism.
                # The r12 form fanned a 2 MB events scan into 32
                # near-empty tasks, and the per-task scheduling floor
                # made every sub-second consumer SLOWER at 32 cores
                # than at 8 (driver r12: a3 0.81 s at 32c vs 0.29 s at
                # 8c). Measured grid at sf0.1/local[32] (best-of-3
                # isolated): events queries prefer ~4 tasks over 32
                # (a3 0.58/32t 1.20; t1 0.43/0.93), orders likewise
                # (j11 0.94 at scan width vs 1.77 at 32), lineitem
                # peaks near 16-22 (q1 0.71 at 16 vs 1.14 unwidened),
                # while documents/embeddings — whose consumers do
                # orders-of-magnitude more per-byte work (shingling,
                # 64-dim vector math) — still want 16-32 (ngram
                # jaccard 0.80 at 32t vs 2.54 unwidened; knn_topk 0.82
                # vs 1.11). At 100 TB every estimate clears the cap,
                # so production behavior is unchanged: full
                # parallelism whenever the physical layout under-splits
                # a big table, nothing otherwise.
                df = df.repartition(n_target, F.col(_WIDE_TABLES[t][0]))
        with _REGISTRY_LOCK:
            frames[(t, path)] = (inputs, df)
        df.createOrReplaceTempView(t)


#: session -> {(table, resolved path): (build inputs, frame)}; weak on
#: the session, so a stopped session's frames are dropped with it and
#: never handed to a later session
_REGISTRY: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_REGISTRY_LOCK = threading.Lock()


def _file_stamp(spark: SparkSession, path: str) -> tuple[str, tuple]:
    """``(qualified path, (length, modification time))`` from the
    Hadoop file status; for a directory, the sorted stamps of every
    file below it (a file rewritten in place leaves the directory's
    own status unchanged)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    status = fs.getFileStatus(hpath)
    if not status.isDirectory():
        return status.getPath().toString(), (status.getLen(), status.getModificationTime())
    files = fs.listFiles(hpath, True)
    stamps = []
    while files.hasNext():
        f = files.next()
        stamps.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return status.getPath().toString(), tuple(sorted(stamps))


#: fact-scale tables whose scans carry the map-side work worth
#: parallelizing: table -> (unique key to hash-distribute on,
#: per-byte compute weight). The broadcast-sized dims are
#: deliberately absent. Weight 1 = scan/decode-bound row data; the
#: payload tables (documents, embeddings) carry ~16-32x the per-byte
#: downstream work (shingle explosion, unrolled 64-dim cosine), so a
#: byte of them earns proportionally more tasks (measured — see the
#: register() comment).
_WIDE_TABLES = {
    "orders": ("o_orderkey", 1),
    "lineitem": ("l_orderkey", 1),
    "events": ("event_id", 1),
    "documents": ("doc_id", 16),
    "embeddings": ("vec_id", 16),
}

#: bytes of (weighted) scan input per widen task. Local default
#: 512 KiB: matches the measured per-table optima above at sf0.1 —
#: lineitem 10.8 MB -> 22 tasks, orders 2.7 MB -> 6, events 2 MB ->
#: 4, documents/embeddings -> 19/25 with their compute weight. On a
#: cluster the cap (defaultParallelism) binds long before this does;
#: override with SPARK_GRAFT_WIDEN_SPLIT_BYTES when task-scheduling
#: overhead differs materially from this box.
_WIDEN_SPLIT_BYTES = 512 * 1024


def _widen_split_bytes() -> int | None:
    """The widen split size, or ``None`` when widening is off. Raises
    ``ValueError`` when ``SPARK_GRAFT_WIDEN_SPLIT_BYTES`` is not a
    positive integer."""
    if os.environ.get("SPARK_GRAFT_NO_WIDEN"):  # measurement kill-switch
        return None
    raw = os.environ.get("SPARK_GRAFT_WIDEN_SPLIT_BYTES", str(_WIDEN_SPLIT_BYTES))
    if not (raw.isdecimal() and int(raw) > 0):
        raise ValueError(
            f"SPARK_GRAFT_WIDEN_SPLIT_BYTES must be a positive integer, got {raw!r}"
        )
    return int(raw)


def _widen_target(df: DataFrame, parallelism: int, table: str, split: int) -> int | None:
    """Size-derived widen target: ``ceil(weighted_bytes / split)``
    capped at the session parallelism, or ``None`` when the scan is
    already at least half that parallel (every real multi-split lake
    table)."""
    weight = _WIDE_TABLES[table][1]
    # Catalyst's own estimate: on-disk bytes for a bare parquet scan —
    # the same statistic broadcast planning runs on
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n = min(parallelism, max(1, math.ceil(est * weight / split)))
    return n if df.rdd.getNumPartitions() * 2 < n else None


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.4-2.8, §2.10)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary (A1/A2-family aggs,
    scalar arithmetic; SURVEY §2.6)."""
    register(spark, sf_dir, ("lineitem",))
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {exact_sum_sql("l_quantity", 2)}      AS sum_qty,
               {exact_sum_sql("l_extendedprice", 2)} AS sum_base_price,
               {exact_sum_sql("l_extendedprice * (1 - l_discount)", 2)} AS sum_disc_price,
               {exact_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2)} AS sum_charge,
               {exact_mean_sparksql(exact_sum_sql("l_quantity"), "count(*)", sum_scale=6)}      AS avg_qty,
               {exact_mean_sparksql(exact_sum_sql("l_extendedprice"), "count(*)", sum_scale=6)} AS avg_price,
               {exact_mean_sparksql(exact_sum_sql("l_discount"), "count(*)", sum_scale=6)}      AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


def revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-0 slice: join + month rollup (J1+A-family).

    Written as pre-aggregate-then-join: lineitem reduces to one exact
    DECIMAL revenue row per orderkey (map-side combinable) before the
    join, and ``count(*)`` over the joined rows IS the distinct order
    count — avoiding the two-phase distinct-count expand of the naive
    ``count(DISTINCT o_orderkey)`` formulation (~35% faster at sf0.1,
    and the shuffle carries per-order rows, not per-lineitem rows)."""
    register(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(
        f"""
        SELECT date_trunc('month', o.o_orderdate) AS order_month,
               CAST(round(sum(po.rev), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders o
        JOIN (SELECT l_orderkey,
                     {exact_sum_sql("l_extendedprice * (1 - l_discount)")} AS rev
              FROM lineitem GROUP BY l_orderkey) po
          ON o.o_orderkey = po.l_orderkey
        GROUP BY 1
        """
    )


def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N with deterministic ordering (O4 + J1 + A-family).

    Aggregation pushed BELOW the joins: lineitem pre-reduces per
    orderkey, orders reduce per custkey, and only then does the
    (small) per-customer aggregate join customer for names — the
    dimension join touches one row per customer instead of one per
    lineitem, and the top-20 is a TakeOrdered over the aggregate
    (~25% faster than the join-then-aggregate formulation at sf0.1)."""
    register(spark, sf_dir, ("orders", "customer", "lineitem"))
    return spark.sql(
        f"""
        WITH per_cust AS (
            SELECT o.o_custkey AS custkey, sum(po.rev) AS rev_d
            FROM orders o
            JOIN (SELECT l_orderkey,
                         {exact_sum_sql("l_extendedprice * (1 - l_discount)")} AS rev
                  FROM lineitem GROUP BY l_orderkey) po
              ON o.o_orderkey = po.l_orderkey
            GROUP BY o.o_custkey
        )
        -- round-ok: rev_d = sum of DECIMAL(18,6) rev (decimal-exact, two-hop alias)
        SELECT c.c_custkey, c.c_name, CAST(round(p.rev_d, 2) AS DOUBLE) AS revenue
        FROM per_cust p JOIN customer c ON c.c_custkey = p.custkey
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
        """
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective join + revenue ranking (J1/A/O4)."""
    register(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        f"""
        SELECT l.l_orderkey,
               {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < timestamp '1998-03-15 00:00:00'
          AND l.l_shipdate > timestamp '1998-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: multi-way join through both dimension chains
    with a co-nation constraint (J1/J6/A)."""
    register(
        spark, sf_dir, ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    return spark.sql(
        f"""
        SELECT n.n_name,
               {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'AMERICA'
          AND o.o_orderdate >= timestamp '1996-01-01 00:00:00'
          AND o.o_orderdate < timestamp '1998-01-01 00:00:00'
        GROUP BY n.n_name
        """
    )


def f1_filter_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion-expression filter list (F1): remove rows matching any
    configured predicate, then summarize survivors.
    Reference: filter_data, pipelines/rj_smtr/utils.py:436-465."""
    register(spark, sf_dir, ("lineitem",))
    df = spark.table("lineitem")
    for pred in ["l_quantity <= 0", "l_discount < 0 OR l_discount > 0.1", "l_extendedprice <= 0"]:
        cond = F.expr(pred)
        df = df.filter(~cond | cond.isNull())
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum("l_extendedprice", 2).alias("sum_price"),
    )


def f2_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-subset filter (F2; filter_null/check_not_null,
    pipelines/rj_smtr/utils.py:372-433): drop rows with NULL in critical
    columns, count survivors per group."""
    register(spark, sf_dir, ("events",))
    df = spark.table("events").na.drop(subset=["user_id", "value", "props"])
    return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))


def f3_capture_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal sanity window (F3/F4; GPS pretreatment mask,
    pipelines/rj_smtr/br_rj_riodejaneiro_onibus_gps/tasks.py:225-233):
    capture-vs-event skew must fall in [-20s, +60s]. Capture time is derived as ts + props.k seconds."""
    register(spark, sf_dir, ("events",))
    df = (
        spark.table("events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .withColumn("timestamp_captura", F.expr("ts + k * INTERVAL '1' SECOND"))
        .withColumn("skew_s", F.expr("timestampdiff(SECOND, ts, timestamp_captura)"))
        .filter(F.col("skew_s").between(-20, 60))
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"), F.max("skew_s").alias("max_skew_s")
    )


def j1_orders_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enrichment joins (J1/J6): fact × customer × nation ×
    region; small dims broadcast."""
    register(spark, sf_dir, ("orders", "customer", "nation", "region"))
    o = spark.table("orders")
    c = spark.table("customer")
    n = spark.table("nation")
    r = spark.table("region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", 2).alias("total_price"),
        )
    )


def j2_full_outer_nation_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer equi-join (J2): merge two per-nation aggregates
    whose key sets differ (the netCDF variable-merge pattern)."""
    register(spark, sf_dir, ("customer", "supplier"))
    c = (
        spark.table("customer")
        .filter(F.col("c_nationkey") < 20)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        spark.table("supplier")
        .filter(F.col("s_nationkey") >= 5)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, ["nationkey"], "outer").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


def j3_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J3/J4): customers with no orders."""
    register(spark, sf_dir, ("orders", "customer"))
    c = spark.table("customer")
    o = spark.table("orders")
    return (
        c.join(o.select("o_custkey").dropDuplicates(), c.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def j5_capture_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recapture spine (J5/T4; query_logs spine SQL,
    pipelines/rj_smtr/tasks.py:437-558): minutes in the first 6 hours
    of the events stream with no event — sequence+explode spine,
    anti-join."""
    register(spark, sf_dir, ("events",))
    spine = time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-01 05:59:00", interval="1 minute", ts_col="minute"
    )
    observed = (
        spark.table("events")
        .select(F.date_trunc("minute", "ts").alias("minute"), F.lit(True).alias("sucesso"))
    )
    return find_gaps(spine, observed, ts_col="minute", cap=None)


def j7_shipdate_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (J7): lineitems shipped within 30 days of
    their order date, per order priority."""
    register(spark, sf_dir, ("orders", "lineitem"))
    o = spark.table("orders")
    l = spark.table("lineitem")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate <= F.expr("o_orderdate + INTERVAL '30' DAY"))
    )
    return (
        l.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_quick_ships"),
            # avg of 2-dp fixed-point quantities is an exact rational —
            # round-half-up in integer arithmetic (tie class)
            exact_mean(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")),
                F.count(F.lit(1)),
                sum_scale=2,
                out_scale=4,
            ).alias("avg_qty"),
        )
    )


def j9_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join + kNN ranking + IDW aggregation (J9/W3/A10; the
    rain-dashboard SQL,
    pipelines/rj_escritorio/rain_dashboard/constants.py:128-210). Stations synthesized from supplier,
    cells from customer; integer grid coordinates keep distances
    exact across engines."""
    register(spark, sf_dir, ("customer", "supplier"))
    cells = (
        spark.table("customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            F.col("c_custkey").alias("cell_id"),
            (F.col("c_custkey") % 90).alias("cell_lat"),
            ((F.col("c_custkey") * 7) % 180).alias("cell_lon"),
        )
    )
    stations = spark.table("supplier").select(
        F.col("s_suppkey").alias("station_id"),
        (F.col("s_suppkey") % 90).alias("st_lat"),
        ((F.col("s_suppkey") * 13) % 180).alias("st_lon"),
        F.col("s_acctbal").alias("reading"),
    )
    d2 = (F.col("cell_lat") - F.col("st_lat")) ** 2 + (F.col("cell_lon") - F.col("st_lon")) ** 2
    nearest = knn_join(
        cells,
        stations,
        point_id="cell_id",
        distance=d2.cast("long"),
        k=3,
        tiebreak=[F.col("station_id")],
    )
    w = F.lit(1.0) / (F.col("distance") + F.lit(1.0))
    return (
        nearest.groupBy("cell_id")
        .agg(
            exact_div_round(
                F.sum((F.col("reading") * w).cast("decimal(28,14)"))
                * F.lit(10 ** 14).cast("decimal(20,0)"),
                F.sum(w.cast("decimal(28,14)"))
                * F.lit(10 ** 14).cast("decimal(20,0)"),
            ).alias("idw_reading")
        )
    )


def a1_relation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness/relation check (A1/A8): orders with more than 5
    lineitems — groupBy + count + HAVING."""
    register(spark, sf_dir, ("lineitem",))
    return (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items") > 5)
    )


def a3_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-row-per-key (A3/W1; sort+groupby+tail(1),
    pipelines/utils/utils.py:1096-1099): window row_number desc."""
    register(spark, sf_dir, ("events",))
    df = last_row_per_key(
        spark.table("events"), keys=["user_id"], order_col="ts", tiebreak=["event_id"]
    )
    return df.select("user_id", "event_id", "ts", "event_type")


def a4_nested_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key+JSON-payload projection (P6/A4;
    transform_raw_to_nested_structure,
    pipelines/rj_smtr/tasks.py:1402-1505): the staging 'content'
    contract — all non-key columns packed into a JSON string."""
    register(spark, sf_dir, ("orders",))
    df = spark.table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    return nest_payload(df, keys=["o_orderkey"], capture_ts_col=None)


def a4b_grouped_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-rows-to-JSON (A4): ordered ARRAY_AGG(STRUCT) per key."""
    register(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_custkey,
               to_json(array_sort(collect_list(struct(o_orderkey, cast(o_totalprice AS string) AS tp)))) AS content
        FROM orders
        GROUP BY o_custkey
        """
    )


def a6_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (A6)."""
    register(spark, sf_dir, ("customer",))
    return spark.table("customer").select("c_mktsegment").distinct()


def a7_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count per (date, hour) buckets (A7)."""
    register(spark, sf_dir, ("events",))
    return (
        spark.table("events")
        .groupBy(
            F.to_date("ts").alias("event_date"), F.hour("ts").cast("long").alias("event_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2).alias("sum_value"),
        )
    )


def a11_colwise_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-wise max across columns (A11): max(greatest(a, b))."""
    register(spark, sf_dir, ("events",))
    df = spark.table("events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("double")
    )
    return df.select(
        F.round(F.max(F.greatest(F.col("value"), F.col("k"))), 2).alias("max_any")
    )


def w4_rolling_hourly_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling range-window aggregate (§2.7 note): per-user 1-hour
    trailing sum of value."""
    register(spark, sf_dir, ("events",))
    return spark.sql(
        f"""
        SELECT event_id, user_id,
               CAST(round({exact_sum_sql("value")} OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW
               ), 2) AS DOUBLE) AS rolling_1h
        FROM events
        """
    )


def o5_union_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two captures (O5) then aggregate."""
    register(spark, sf_dir, ("orders",))
    o = spark.table("orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH")
    return (
        urgent.unionByName(high)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def o6_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide (O6): daily counts per event type."""
    register(spark, sf_dir, ("events",))
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        spark.table("events")
        .groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "event_date", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


def q2_min_per_group_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped correlated scalar subquery: suppliers whose
    account balance is the minimum of their nation. Catalyst
    decorrelates to aggregate + join."""
    register(spark, sf_dir, ("supplier",))
    return spark.sql(
        """
        SELECT s_suppkey, s_name, s_nationkey,
               CAST(round(s_acctbal, 2) AS DOUBLE) AS min_acctbal
        FROM supplier s
        WHERE s_acctbal = (
            SELECT min(s2.s_acctbal) FROM supplier s2
            WHERE s2.s_nationkey = s.s_nationkey
        )
        """
    )


def o11_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (§2.8 note): customers who placed both an
    urgent and a low-priority order."""
    register(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
        """
    )


def o10_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long (the melt inverse of O6): per-day per-type
    counts back to long form via DataFrame.unpivot (map-only)."""
    register(spark, sf_dir, ("events",))
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        spark.table("events")
        .groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return wide.unpivot(
        ids=["event_date"], values=types,
        variableColumnName="event_type", valueColumnName="n_events",
    )


def j8_geo_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo pipeline with oracle (J8/A10 family): deterministic station
    coords derived from supplier keys, ray-cast point-in-polygon
    against a city rectangle, haversine distance to the city center,
    aggregated per nation. All JVM column math — no geo library, no
    UDF (functions/geo.py)."""
    register(spark, sf_dir, ("supplier",))
    from pipelines_spark.functions.geo import haversine_km, point_in_polygon

    st = spark.table("supplier").select(
        F.col("s_suppkey").alias("station_id"),
        F.col("s_nationkey").alias("nationkey"),
        (F.lit(-23.1) + (F.col("s_suppkey") % 97) * F.lit(0.01)).alias("lat"),
        (F.lit(-43.6) + ((F.col("s_suppkey") * 7) % 89) * F.lit(0.01)).alias("lon"),
    )
    # rectangle ring chosen off the coordinate lattice so no point
    # sits exactly on an edge (ray-cast == plain range test)
    ring = F.array(
        *[
            F.struct(F.lit(x).alias("x"), F.lit(y).alias("y"))
            for x, y in [
                (-43.555, -23.055),
                (-43.005, -23.055),
                (-43.005, -22.505),
                (-43.555, -22.505),
            ]
        ]
    )
    inside = st.filter(point_in_polygon("lat", "lon", ring))
    # round-ok: haversine is sqrt/trig-derived (continuous)
    dist = F.round(
        haversine_km("lat", "lon", F.lit(-22.9068), F.lit(-43.1729)), 4
    )
    return (
        inside.withColumn("dist_km", dist)
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_stations"),
            exact_mean(
                F.sum(F.col("dist_km").cast("decimal(14,4)")),
                F.count(F.lit(1)),
                sum_scale=4,
            ).alias("avg_dist_km"),
        )
    )


def j8b_best_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 best-overlap ranking (reference
    pipelines/rj_escritorio/rain_dashboard/constants.py:116-125):
    `ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
    ST_AREA(ST_INTERSECTION(cell, neighborhood)) DESC)` — each grid
    cell keeps the neighborhood it overlaps most.

    Geometry is real polygon clipping (Sutherland–Hodgman + shoelace,
    pure Catalyst HOF math — functions/geo.py:polygon_clip), driven
    through the same grid-bucket pre-filter as J8: both rectangle sets
    explode to the 0.1° buckets they cover, the tiny neighborhood side
    broadcasts, and each candidate pair is kept exactly once via the
    canonical-bucket trick (the bucket containing the intersection's
    lower-left corner) — no pair-dedup shuffle. Oracle: closed-form
    rectangle intersection in DuckDB, which pins the general clipping
    code against an analytically exact answer."""
    register(spark, sf_dir, ("supplier", "nation"))
    from pipelines_spark.functions.geo import intersection_area, rect_ring

    GRID = 10  # buckets per degree, same layout as functions.geo.grid_cell
    STRIDE = 360 * GRID + 1

    neigh = (
        spark.table("nation")
        .select(
            F.col("n_nationkey").alias("nationkey"),
            (F.lit(-43.6) + (F.col("n_nationkey") % 5) * F.lit(0.1)).alias("nx0"),
            (
                F.lit(-23.1)
                + F.floor(F.col("n_nationkey") / F.lit(5.0)) * F.lit(0.1)
            ).alias("ny0"),
        )
        .withColumn("nx1", F.col("nx0") + F.lit(0.15))
        .withColumn("ny1", F.col("ny0") + F.lit(0.15))
    )
    cells = (
        spark.table("supplier")
        .select(
            F.col("s_suppkey").alias("cell_id"),
            (F.lit(-43.6) + ((F.col("s_suppkey") * 7) % 89) * F.lit(0.01)).alias("cx0"),
            (F.lit(-23.1) + (F.col("s_suppkey") % 97) * F.lit(0.01)).alias("cy0"),
        )
        .withColumn("cx1", F.col("cx0") + F.lit(0.08))
        .withColumn("cy1", F.col("cy0") + F.lit(0.08))
    )

    def with_buckets(df, x0, y0, x1, y1):
        lat_i = F.explode(
            F.sequence(
                F.floor((F.col(y0) + 90.0) * GRID).cast("long"),
                F.floor((F.col(y1) + 90.0) * GRID).cast("long"),
            )
        ).alias("lat_i")
        out = df.select("*", lat_i)
        lon_i = F.explode(
            F.sequence(
                F.floor((F.col(x0) + 180.0) * GRID).cast("long"),
                F.floor((F.col(x1) + 180.0) * GRID).cast("long"),
            )
        ).alias("lon_i")
        return out.select("*", lon_i).withColumn(
            "bucket", F.col("lat_i") * F.lit(STRIDE) + F.col("lon_i")
        ).drop("lat_i", "lon_i")

    cells_b = with_buckets(cells, "cx0", "cy0", "cx1", "cy1")
    neigh_b = with_buckets(neigh, "nx0", "ny0", "nx1", "ny1")

    ix0 = F.greatest("cx0", "nx0")
    iy0 = F.greatest("cy0", "ny0")
    canonical = (
        F.floor((iy0 + 90.0) * GRID).cast("long") * F.lit(STRIDE)
        + F.floor((ix0 + 180.0) * GRID).cast("long")
    )
    pairs = (
        cells_b.join(F.broadcast(neigh_b), "bucket")
        .filter(F.col("bucket") == canonical)  # each pair exactly once
    )
    # round-ok: exact rect-clip area of 2/3-dp grid coords has <= 6 dp
    area = F.round(
        intersection_area(
            rect_ring(F.col("cx0"), F.col("cy0"), F.col("cx1"), F.col("cy1")),
            rect_ring(F.col("nx0"), F.col("ny0"), F.col("nx1"), F.col("ny1")),
        ),
        6,
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.desc("best_area"), F.asc("nationkey")
    )
    return (
        pairs.withColumn("best_area", area)
        .filter(F.col("best_area") > 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cell_id", F.col("nationkey").alias("best_nationkey"), "best_area")
    )


def o7_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload parse (O7): extract props.k, bucket it."""
    register(spark, sf_dir, ("events",))
    df = spark.table("events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    return (
        df.groupBy((F.col("k") - F.col("k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def scalar_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (§2.10): casts, safe casts, date
    formatting/arithmetic, regex, string ops, conditional logic."""
    register(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey,
               lower(o_orderstatus)                                      AS status_lower,
               cast(regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS bigint) AS priority_num,
               date_format(o_orderdate, 'yyyy-MM-dd')                    AS order_day,
               cast(to_date(o_orderdate) AS date)                        AS order_date,
               date_trunc('month', o_orderdate)                          AS order_month,
               o_orderdate + INTERVAL '90' DAY                           AS due_ts,
               cast(year(o_orderdate) AS bigint)                         AS order_year,
               try_cast(o_orderpriority AS double)                       AS bad_cast,
               -- round-ok: 2-dp price over den in (1,2): exact value has <= 3 dp, identity at 4
               round(o_totalprice / nullif(cast(o_orderkey % 3 AS double), 0), 4) AS safe_ratio,
               concat_ws('-', o_orderstatus, o_orderpriority)            AS tag,
               CASE WHEN o_totalprice > 200000 THEN 'big'
                    WHEN o_totalprice > 50000 THEN 'mid'
                    ELSE 'small' END                                     AS size_band,
               coalesce(try_cast('x' AS bigint), o_orderkey)             AS coalesced
        FROM orders
        WHERE o_orderkey <= 2000
        """
    )


def p2_rename_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection surface (P1/P2/P5): select & reorder, rename map,
    computed/default column injection."""
    register(spark, sf_dir, ("part",))
    df = (
        spark.table("part")
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .withColumnsRenamed({"p_name": "nome", "p_brand": "marca"})
        .withColumn("tipo_os", F.lit("Regular"))
        .withColumn("preco_centavos", (F.col("p_retailprice") * 100).cast("long"))
    )
    return df.select("p_partkey", "nome", "marca", "tipo_os", "preco_centavos")


def j10_composite_update_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key update detection (J10): rows of the current
    capture whose (key, status) combo is absent from the state
    snapshot — left-anti on a struct of columns."""
    register(spark, sf_dir, ("orders",))
    o = spark.table("orders")
    current = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    state = o.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderstatus") != "P")).select(
        "o_orderkey", "o_orderstatus"
    )
    return current.join(state, ["o_orderkey", "o_orderstatus"], "left_anti")


def a2_group_any_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by + max as an any()-flag (A2): per customer/date, was
    any order fulfilled."""
    register(spark, sf_dir, ("orders",))
    return (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.max((F.col("o_orderstatus") == "F").cast("int")).cast("long").alias("any_fulfilled"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def o1_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key deterministic sort + limit (O1/O4)."""
    register(spark, sf_dir, ("lineitem",))
    return (
        spark.table("lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy(
            F.col("l_shipdate").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(50)
    )


def t1_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (T1; get_rounded_timestamp capture
    windows, pipelines/rj_smtr/tasks.py:262-297): 5-minute windows."""
    register(spark, sf_dir, ("events",))
    return (
        spark.table("events")
        .groupBy(F.window("ts", "5 minutes").start.alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2).alias("sum_value"),
        )
    )


def t2_incremental_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-window incremental filter (T2): process only
    (start, end], aggregate."""
    register(spark, sf_dir, ("events",))
    df = spark.table("events").filter(
        (F.col("ts") > F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") <= F.lit("2024-01-20 00:00:00").cast("timestamp"))
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum("value", 2).alias("sum_value"),
        F.max("ts").alias("max_ts"),
    )


def k4_partition_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column derivation (K4; parse_date_columns,
    pipelines/utils/utils.py:885-922): ano/mes/data_particao from
    the order date; count rows per derived partition."""
    register(spark, sf_dir, ("orders",))
    df = derive_partition_columns(spark.table("orders"), "o_orderdate")
    return df.groupBy("ano_particao", "mes_particao", "data_particao").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def f6_pruned_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental predicate scan (F6): only data after the watermark
    date; Catalyst pushes the filter to the parquet scan."""
    register(spark, sf_dir, ("orders",))
    df = spark.table("orders").filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    return df.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice", 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on text."""
    register(spark, sf_dir, ("documents",))
    return exact_dedup(spark.table("documents"), cols=["text"], id_col="doc_id").select(
        "canonical_id", "dup_count"
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (Jaccard ≥ 0.5 on 3-word shingles),
    LSH candidates exactly verified."""
    register(spark, sf_dir, ("documents",))
    return minhash_near_dup_pairs(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        shingle_words=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index."""
    register(spark, sf_dir, ("documents",))
    return ngram_jaccard_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text",
        shingle_words=3, threshold=0.5,
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (32-bit md5-based hash, Hamming ≤ 3)
    via exact pigeonhole block join."""
    register(spark, sf_dir, ("documents",))
    out = simhash_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text", max_hamming=3
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact): all pairs with
    cosine ≥ 0.4. Brute-force is the correctness baseline; the scale
    path is the SRP-bucketed variant (embed_srp_ann)."""
    register(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    from pipelines_spark.llm.similarity import _norm_col, _pair_cosine

    # per-vector norms hoisted out of the O(n²) pair condition —
    # bit-identical scores (similarity._pair_cosine), one codegen dot
    # per pair instead of three interpreted HOF folds
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"),
        _norm_col("embedding", 64).alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"),
        _norm_col("embedding", 64).alias("_nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                _pair_cosine("_va", "_vb", "_na", "_nb", 64),
                4,
            ),
        )
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
    )


def text_langid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution."""
    register(spark, sf_dir, ("documents",))
    df = spark.table("documents").withColumn("lang_pred", language_id("text"))
    return df.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score heuristic, averaged per source."""
    register(spark, sf_dir, ("documents",))
    df = spark.table("documents").withColumn("q", quality_score("text"))
    return df.groupBy("source").agg(
        exact_mean(F.sum(F.col("q").cast("decimal(14,4)")), F.count(F.lit(1)), sum_scale=4).alias("avg_quality"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per language."""
    register(spark, sf_dir, ("documents",))
    df = spark.table("documents").select(
        "lang",
        token_count("text").cast("long").alias("ws_tokens"),
        regex_token_count("text").cast("long").alias("re_tokens"),
        mean_word_length("text").alias("mwl"),
    )
    return df.groupBy("lang").agg(
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("re_tokens").alias("total_re_tokens"),
        exact_mean(F.sum(F.col("mwl").cast("decimal(18,8)")), F.count(F.lit(1)), sum_scale=8).alias("avg_word_len"),
    )


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rolling md5 fingerprint (min over 8-char grams)."""
    register(spark, sf_dir, ("documents",))
    return spark.table("documents").select(
        "doc_id", document_fingerprint("text").alias("fingerprint")
    )


def embed_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id<10."""
    register(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    return brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), id_col="vec_id",
        vec_col="embedding", k=5, dim=64,
    ).select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))


def embed_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized cosine top-5 (llm/similarity.py
    quantize_embeddings + quantized_topk): the 4×-memory-reduction
    scale path for brute-force search. Integer dot products are
    exact, per-vector scales cancel in cosine — the oracle replays
    the identical quantization and integer arithmetic."""
    from pipelines_spark.llm.similarity import quantize_embeddings, quantized_topk

    register(spark, sf_dir, ("embeddings",))
    qemb = quantize_embeddings(spark.table("embeddings"))
    return quantized_topk(
        qemb, qemb.filter(F.col("vec_id") < 10), k=5
    ).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def embed_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: deterministic sign-projection buckets, top-5
    within bucket (the 100-TB-scale path: equi-join, no cross join)."""
    register(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    return srp_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 50), id_col="vec_id",
        vec_col="embedding", k=5, n_planes=8,
    ).select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))


def embed_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP ANN (Lv et al. 2007,
    llm/similarity.py::srp_multiprobe_topk): each query also probes
    the buckets across its two weakest-margin hyperplanes — recall
    rises toward brute force while the corpus side stays ONE stored
    bucket key and the join stays an equi-join (only the broadcast
    query side fans out 3×). Deterministic margins, oracle-replayed."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import srp_multiprobe_topk

    emb = spark.table("embeddings")
    return srp_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < 50), id_col="vec_id",
        vec_col="embedding", k=5, n_planes=8, n_probes=3,
    ).select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def embed_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring
    (Jégou et al. 2011; llm/similarity.py::pq_adc_topk): the corpus
    compresses to 4 byte-codes per vector (16× at these defaults),
    queries precompute per-subspace lookup tables against the
    broadcast codebook, and candidate scores are 4 table lookups —
    no full-vector math at query time. Codebook is the hash-sampled
    fixed-k kind (ivf_topk discipline); encode is a
    map-side-combinable MIN(struct) argmin; contributions round +
    DECIMAL-sum so the oracle replays scores exactly."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import pq_adc_topk

    emb = spark.table("embeddings")
    return pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 50), id_col="vec_id",
        vec_col="embedding", k=5,
    ).select(
        "query_id", "neighbor_id", "adc_dot",
        F.col("rank").cast("long").alias("rank"),
    )


def embed_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (llm/similarity.py::ivf_pq_topk): the FAISS production
    composition — nprobe coarse cells bound the candidate set, PQ
    byte-codes + per-query lookup tables bound storage and scoring.
    Both halves reuse the already-oracle-checked machinery (ivf_topk
    cells, pq_adc_topk codes), and the oracle replays the full
    composition."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import ivf_pq_topk

    emb = spark.table("embeddings")
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 20), id_col="vec_id",
        vec_col="embedding", k=5, n_centroids=16, nprobe=2,
    ).select(
        "query_id", "neighbor_id", "adc_dot",
        F.col("rank").cast("long").alias("rank"),
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS semi-join: orders in a quarter having at
    least one line shipped >60 days after the order date, counted per
    priority. Catalyst rewrites EXISTS to a left-semi hash join."""
    register(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= timestamp '1996-01-01 00:00:00'
          AND o_orderdate <  timestamp '1996-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY o_orderpriority
        """
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped scan-filter-agg: all three predicates push to
    the parquet scan; no shuffle beyond the single-row final agg."""
    register(spark, sf_dir, ("lineitem",))
    return spark.sql(
        f"""
        SELECT {exact_sum_sql("l_extendedprice * l_discount", 2)} AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
          AND l_shipdate <  timestamp '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24
        """
    )


def a12_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (SURVEY §2.6 note: the reference never got
    these because BigQuery owned SQL; Spark has them natively):
    revenue by (year, priority), (year), and grand total."""
    register(spark, sf_dir, ("orders",))
    return spark.sql(
        f"""
        SELECT coalesce(year(o_orderdate), -1) AS order_year,
               coalesce(o_orderpriority, 'ALL') AS priority,
               {exact_sum_sql("o_totalprice", 2)}  AS total_price,
               count(*)                     AS n_orders
        FROM orders
        GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
        """
    )


def o9_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (SURVEY §2.8 note: the reference never needed
    EXCEPT because BigQuery owned SQL; Spark has it natively):
    customers who ordered but never at '1-URGENT' priority."""
    register(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        """
    )


def w5_lag_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window (§2.7 extension): per-user inter-event gap via
    lag over (user, ts, event_id), aggregated per event type. Epoch
    microseconds keep the arithmetic integer-exact across engines."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events").select(
        "event_type",
        "user_id",
        _epoch_us("ts").alias("_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gaps = ev.withColumn("_gap_us", F.col("_us") - F.lag("_us").over(w)).filter(
        F.col("_gap_us").isNotNull()
    )
    return gaps.groupBy("event_type").agg(
        exact_div_round(
            F.sum("_gap_us"), F.count(F.lit(1)) * F.lit(1_000_000), out_scale=2
        ).alias("avg_gap_s"),
        F.max(F.col("_gap_us")).alias("max_gap_us"),
        F.count(F.lit(1)).alias("n_gaps"),
    )


def w6_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (training-data pipeline staple): a >30-min gap
    opens a new session; per user report session count, event count,
    and the largest session. Cumulative-sum-over-flags builds the
    session id — two windows, both partitioned on user_id, so one
    shuffle total."""
    register(spark, sf_dir, ("events",))
    gap_us = 30 * 60 * 1_000_000
    ev = spark.table("events").select(
        "user_id", _epoch_us("ts").alias("_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = ev.withColumn(
        "_new",
        F.when(
            (F.col("_us") - F.lag("_us").over(w)).isNull()
            | ((F.col("_us") - F.lag("_us").over(w)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("session_id", F.sum("_new").over(wrun))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("_n").alias("n_events"),
        F.max("_n").alias("max_session_events"),
    )


def a13_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (data-profiling
    staple). Spark ``percentile`` and DuckDB ``quantile_cont`` share
    the linear-interpolation definition; the scale path swaps in
    ``percentile_approx`` (t-digest sketch, map-side combinable) with
    the same call shape."""
    register(spark, sf_dir, ("events",))
    return spark.sql(
        """
        SELECT event_type,
               round(percentile(value, 0.5), 4)  AS p50,
               round(percentile(value, 0.95), 4) AS p95,
               round(min(value), 4)              AS v_min,
               round(max(value), 4)              AS v_max,
               count(*)                          AS n
        FROM events
        GROUP BY event_type
        """
    )


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by document frequency (corpus vocabulary
    profiling): explode tokens, distinct per doc, count, window
    top-k. The distinct-per-doc groupBy is the only large shuffle and
    is map-side combinable."""
    register(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    terms = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
    return (
        terms.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("term", "doc_freq", F.col("rank").cast("long").alias("rank"))
    )


def j11_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (time-series staple Spark lacks natively):
    each click event enriched with the user's most recent prior
    purchase, then per-user staleness stats. One shuffle on user_id —
    no band-join candidate blow-up (operators.joins.asof_join)."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .withColumn("pts", F.col("ts"))
    )
    joined = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["purchase_value", "pts"],
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("asof_purchase_value").alias("n_matched"),
        exact_div_round(
            F.sum(_epoch_us("ts") - _epoch_us("asof_pts")),
            F.count("asof_pts") * F.lit(1_000_000),
            out_scale=2,
        ).alias("avg_staleness_s"),
        exact_sum("asof_purchase_value", 2).alias("sum_purchase_value"),
    )


def a16_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram profiling (width_bucket — shared by Spark
    and DuckDB): per event type, 8 equal buckets over [0, 400) plus
    the overflow bucket. Map-only bucket assignment + one small agg —
    the profile-a-column shape that runs ahead of outlier filtering."""
    register(spark, sf_dir, ("events",))
    return spark.sql(
        """
        SELECT event_type,
               CAST(width_bucket(value, 0.0, 400.0, 8) AS BIGINT) AS bucket,
               count(*) AS n,
               CAST(round(min(value), 4) AS DOUBLE) AS lo,
               CAST(round(max(value), 4) AS DOUBLE) AS hi
        FROM events
        GROUP BY event_type, width_bucket(value, 0.0, 400.0, 8)
        """
    )


def a17_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (completes the a12 ROLLUP / a14 CUBE
    family): exactly the (year), (returnflag), and grand-total sets —
    not the full cube — in ONE map-side Expand pass over the scan."""
    register(spark, sf_dir, ("lineitem",))
    return spark.sql(
        f"""
        SELECT CAST(coalesce(year(l_shipdate), -1) AS INTEGER) AS ship_year,
               coalesce(l_returnflag, 'ALL') AS returnflag,
               CAST(grouping(year(l_shipdate)) AS INTEGER) AS g_year,
               CAST(grouping(l_returnflag) AS INTEGER)     AS g_flag,
               {exact_sum_sql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY GROUPING SETS ((year(l_shipdate)), (l_returnflag), ())
        """
    )


def j12_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/joins.py, direction='forward'):
    each click enriched with the user's NEXT purchase at-or-after the
    click — time-to-conversion per user. Same single-shuffle
    union+window encoding as the backward join, scanning a following
    frame instead of a preceding one. Oracle = DuckDB native forward
    ASOF (``c.ts <= p.pts``)."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .withColumn("pts", F.col("ts"))
    )
    joined = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["purchase_value", "pts"], direction="forward",
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("asof_purchase_value").alias("n_converted"),
        exact_div_round(
            F.sum(_epoch_us("asof_pts") - _epoch_us("ts")),
            F.count("asof_pts") * F.lit(1_000_000),
            out_scale=2,
        ).alias("avg_time_to_purchase_s"),
    )


def embed_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: fixed-k deterministic centroid cells (16
    hash-ordered sample vectors — O(k·dim) driver set regardless of
    corpus size), map-only nearest-cell assignment, nprobe=2 probing,
    exact top-5 within probed cells. The 100-TB path: corpus
    partitioned by cell once, probed by equi-join."""
    register(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), id_col="vec_id",
        vec_col="embedding", k=5, n_centroids=16, nprobe=2, dim=64,
    ).select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping training-window chunking (llm/chunking.py):
    map-only split → sequence → explode → slice, fingerprinted per
    chunk so the oracle pins exact window boundaries and overlap."""
    from pipelines_spark.llm.chunking import chunk_documents

    register(spark, sf_dir, ("documents",))
    chunks = chunk_documents(
        spark.table("documents"), chunk_tokens=64, overlap=16
    )
    return chunks.select(
        "doc_id", "chunk_id", "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    )


def sample_stratified_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) deterministic downsampling toward a
    cap (llm/sampling.stratified_sample): broadcast per-stratum rates,
    map-only salted-hash filter — no per-group limit funnel."""
    from pipelines_spark.llm.sampling import stratified_sample

    register(spark, sf_dir, ("documents",))
    kept = stratified_sample(
        spark.table("documents"), "doc_id", ["lang"], cap=120, salt="strat"
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 lexical retrieval for a literal query over the
    documents table (llm/search.py): ONE explode pass aggregates
    straight to per-doc conditional tf sums (the shuffle carries one
    row per document, never per token), corpus stats reduce to one
    broadcast row, per-term scores round-then-DECIMAL-sum for order
    independence."""
    from pipelines_spark.llm.search import bm25_topk

    register(spark, sf_dir, ("documents",))
    return bm25_topk(
        spark.table("documents"), ("hash", "join", "window"), k=10
    )


def embed_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over TRAINED centroids: 2 Lloyd's iterations of
    deterministic k-means (hash-ordered init, floor-quantized exact
    integer means — see ``kmeans_train``), then the same map-only
    assign / broadcast-probe / cell-equi-join plan as ``embed_ivf_ann``.
    The full training loop is oracle-checked: the DuckDB side replays
    both iterations in chained CTEs over the identical arithmetic."""
    register(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    return ivf_kmeans_topk(
        emb, emb.filter(F.col("vec_id") < 10), id_col="vec_id",
        vec_col="embedding", k=5, n_centroids=8, iters=2, nprobe=2,
    ).select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))


def sample_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (llm/sampling.py): assignment
    is a pure function of md5(doc_id), so it is reproducible across
    engines, runs, and cluster sizes — counts per (split, lang)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import assign_split

    return (
        assign_split(spark.table("documents"), "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs (Jaccard ≥ 0.5) →
    connected components by iterative min-label propagation. The
    component id (min doc_id reachable) is what a training pipeline
    keeps as the canonical document."""
    register(spark, sf_dir, ("documents",))
    pairs = minhash_near_dup_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text",
        shingle_words=3, num_hashes=32, bands=8, threshold=0.5,
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component_id"
    )


def dedup_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-merge audit of the near-dup components: transitive
    closure chains A~B~C into one cluster even when A and C share
    nothing (the Lee-et-al caveat on clustering-based dedup), so
    before keeping one canonical doc per component a pipeline should
    LOOK at cluster shape. Per component: size, direct-edge count,
    edge density vs the size·(size−1)/2 complete graph (low density =
    chained merge), and the min/mean direct-edge Jaccard (a low min
    says the weakest link is doing the merging). Same pairs + CC as
    dedup_clusters; two joins on the doc-level label frame, every
    aggregate per-component."""
    register(spark, sf_dir, ("documents",))
    pairs = minhash_near_dup_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text",
        shingle_words=3, num_hashes=32, bands=8, threshold=0.5,
    )
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component_id"
    )
    sizes = labels.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    edges = pairs.join(
        labels.withColumnRenamed("doc_id", "id_a"), "id_a"
    ).groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.min("jaccard").alias("min_edge_jaccard"),
        exact_mean(
            F.sum(F.col("jaccard").cast("decimal(8,4)")),
            F.count(F.lit(1)),
            sum_scale=4,
        ).alias("mean_edge_jaccard"),
    )
    return (
        sizes.join(edges, "component_id")
        .select(
            "component_id",
            "size",
            "n_edges",
            # exact integer-arithmetic density (tie class at 4 dp)
            exact_div_round(
                F.col("n_edges") * 2,
                F.col("size") * (F.col("size") - 1),
                out_scale=4,
            ).alias("edge_density"),
            "min_edge_jaccard",
            "mean_edge_jaccard",
        )
        .orderBy("component_id")
    )


def q20_nested_in_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped nested IN chain: customers who ordered
    large quantities of red parts — three levels of IN subqueries
    that Catalyst must unnest into a chain of semi-joins (never
    per-row subquery execution)."""
    register(spark, sf_dir, ("customer", "orders", "lineitem", "part"))
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS numcust
        FROM customer
        WHERE c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem
                WHERE l_partkey IN (
                    SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
                )
                AND l_quantity > 30
            )
        )
        GROUP BY c_mktsegment
        """
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: revenue from line items whose quantity is
    below 20% of the per-part average — a CORRELATED scalar subquery
    that Catalyst decorrelates into a per-part aggregate joined back
    to the fact (never a per-row re-execution)."""
    register(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(
        f"""
        SELECT CAST(round({exact_sum_sql("l.l_extendedprice")} / 7.0, 2) AS DOUBLE) AS avg_yearly,
               count(*) AS n_rows
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#3'
          AND l.l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
        """
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped customer distribution: LEFT OUTER join so
    zero-order customers survive, per-customer count, then a
    histogram of the counts (double aggregation). Exercises
    outer-join null handling feeding a re-aggregation."""
    register(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        ) c_orders
        GROUP BY c_count
        """
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: customers above the average account balance
    (scalar subquery) with no urgent orders (NOT EXISTS → anti-join
    with a pushed predicate), grouped by market segment. Exercises
    scalar-subquery broadcast + anti-join decorrelation in one plan."""
    register(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        f"""
        SELECT c_mktsegment,
               count(*) AS numcust,
               {exact_sum_sql("c_acctbal", 2)} AS totacctbal
        FROM customer c1
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c1.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        GROUP BY c_mktsegment
        """
    )


def text_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate (C4-style rule over shingles):
    shingles in > 1% of documents are boilerplate; per source report
    how boilerplate-laden documents are. Inverted-index aggregation +
    broadcast stop-list join — never a corpus self-join."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.text import (
        boilerplate_ratio,
        boilerplate_shingles,
        doc_shingles,
    )

    docs = spark.table("documents")
    # tokenize ONCE: the same staged posting table feeds frequency
    # counting and per-doc scoring (lazy localCheckpoint, not
    # persist(): blocks free with the frame instead of lingering in
    # the CacheManager for the session's lifetime)
    from pipelines_spark.plans.staging import stage as _cut

    sh = _cut(doc_shingles(docs), eager=False)
    bp = boilerplate_shingles(docs, max_doc_frac=0.01, shingles=sh)
    ratios = boilerplate_ratio(docs, bp, shingles=sh)
    return (
        docs.select("doc_id", "source")
        .join(ratios, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact_mean(
                F.sum(F.col("boilerplate_ratio").cast("decimal(14,4)")),
                F.count(F.lit(1)),
                sum_scale=4,
            ).alias("avg_bp_ratio"),
            F.max("boilerplate_ratio").alias("max_bp_ratio"),
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product profit: revenue by supplier nation ×
    year for a part-name pattern. The LIKE filter on the (broadcast)
    part dim prunes the fact join; yearly rollup on the fact side.
    Reference shape: multi-way joins in materialization SQL,
    pipelines/rj_smtr/constants.py:244-346."""
    register(spark, sf_dir, ("lineitem", "part", "supplier", "nation"))
    return spark.sql(
        f"""
        SELECT n.n_name AS nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS o_year,
               {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS sum_profit
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%bolt%'
        GROUP BY n.n_name, year(l.l_shipdate)
        """
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promo share: conditional aggregation ratio
    (promo-part revenue / all revenue) over one shipdate month — the
    CASE-WHEN sum rides the same single agg pass as the total, no
    self-join."""
    register(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(
        f"""
        SELECT CAST(round(
                   100.0 * {exact_sum_sql("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) END", 4)}
                   / {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)},
               4) AS DOUBLE) AS promo_revenue_pct,
               count(*) AS n_rows
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= timestamp '1995-09-01 00:00:00'
          AND l.l_shipdate <  timestamp '1995-10-01 00:00:00'
        """
    )


def q19_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive brackets: an OR of AND-brackets
    spanning both join sides (brand+size on part, quantity on
    lineitem). Catalyst splits the common part (the join key) from
    the disjunction and pushes the per-side conjuncts into the scans
    — the classic predicate-decomposition test."""
    register(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(
        f"""
        SELECT {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue,
               count(*) AS n_rows
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity BETWEEN 5 AND 35)
           OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity BETWEEN 10 AND 50)
        """
    )


def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step a training pipeline
    runs AFTER near-dup clustering: per duplicate component keep the
    highest-quality doc (ties → lowest doc_id) and count what drops.
    Composition of minhash_near_dup_pairs → connected_components →
    quality_score → per-component window top-1; singletons are their
    own component. Scale: the window partitions by component id
    (components are tiny), everything upstream is the bucketed LSH
    path."""
    register(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text",
        shingle_words=3, num_hashes=32, bands=8, threshold=0.5,
    )
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component_id"
    )
    scored = (
        docs.join(labels, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", "doc_id"))
        .withColumn("q", quality_score("text"))
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .groupBy("component_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        )
    )


def text_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language QA: per source, how many documents' detected language
    (stopword-argmax language_id) disagrees with the declared ``lang``
    column — the standard corpus-metadata sanity check. Map-only
    detection + one small agg."""
    register(spark, sf_dir, ("documents",))
    docs = spark.table("documents").withColumn("detected", language_id("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("detected") != F.col("lang")).cast("long")).alias("n_mismatch"),
        exact_mean(
            F.sum((F.col("detected") != F.col("lang")).cast("long")),
            F.count(F.lit(1)),
            sum_scale=0,
        ).alias("mismatch_rate"),
    )


def sample_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (llm/sampling.pack_token_shards):
    docs hash into 8 independent streams, each packed greedily into
    ~2000-token shards by exclusive running sum in hash order —
    deterministic across engines and partitionings, parallel across
    buckets (no global sequential window). Output: shard roster
    sizes."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import pack_token_shards

    docs = spark.table("documents").withColumn("n_tokens", token_count("text"))
    packed = pack_token_shards(
        docs, "doc_id", "n_tokens", shard_tokens=2000, n_buckets=8
    )
    return packed.groupBy("bucket", "shard_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped volume shipping: disjunctive nation-pair
    predicate across two aliases of the same dim (nation joins twice),
    yearly rollup. Exercises join reordering with a multi-way chain
    where the selective predicate sits on the *dimensions*, not the
    fact — Catalyst pushes the OR-pair filter below the big joins."""
    register(spark, sf_dir, ("supplier", "lineitem", "orders", "customer", "nation"))
    return spark.sql(
        f"""
        SELECT supp_nation, cust_nation, l_year,
               {exact_sum_sql("volume", 2)} AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume
            FROM supplier s
            JOIN lineitem l ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
              AND l.l_shipdate >= timestamp '1996-01-01 00:00:00'
              AND l.l_shipdate <  timestamp '1998-01-01 00:00:00'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        """
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped market share: conditional-aggregation ratio
    (share of one supplier nation's volume inside a region's imports,
    per year). The CASE-WHEN sum over the same rows as the total sum
    is a single-pass agg — no self-join."""
    register(
        spark, sf_dir,
        ("part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
    )
    share = exact_div_round_sql(
        exact_sum_sql("volume", where="supp_nation = 'NATION_5'") + " * 1000000",
        exact_sum_sql("volume") + " * 1000000",
        out_scale=6,
    )
    return spark.sql(
        f"""
        SELECT l_year,
               {share} AS mkt_share
        FROM (
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS l_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume,
                   n2.n_name AS supp_nation
            FROM part p
            JOIN lineitem l ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
            JOIN region r ON n1.n_regionkey = r.r_regionkey
            JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
            WHERE r.r_name = 'AMERICA'
              AND p.p_brand = 'Brand#9'
        ) all_nations
        GROUP BY l_year
        """
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item ranking: quarter of orders ×
    only returned lines, revenue per customer, top 20. The returnflag
    filter prunes ~2/3 of lineitem at the scan."""
    register(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    return spark.sql(
        f"""
        SELECT c.c_custkey, c.c_name, n.n_name,
               {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= timestamp '1996-10-01 00:00:00'
          AND o.o_orderdate <  timestamp '1997-01-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
        """
    )


def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (pre-training corpus hygiene): per-doc detection
    counts + redacted text. The synthetic corpus carries no PII, so
    the query injects deterministic doc_id-derived email/phone/IP
    strings first — the oracle then pins the exact regexp_replace
    semantics (pattern order, placeholder text) cross-engine, not
    just zeros. Map-only: detection and redaction are codegen'd
    regex projections, no shuffle."""
    from pipelines_spark.llm.text import pii_counts, redact_pii

    register(spark, sf_dir, ("documents",))
    seeded = (
        spark.table("documents")
        .filter(F.col("doc_id") < 200)
        .withColumn(
            "text2",
            F.concat(
                F.substring("text", 1, 40),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit("-1234 from 10.0."),
                (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
            ),
        )
    )
    return seeded.select(
        "doc_id",
        pii_counts(F.col("text2")).getField("n_email").alias("n_email"),
        pii_counts(F.col("text2")).getField("n_phone").alias("n_phone"),
        pii_counts(F.col("text2")).getField("n_ipv4").alias("n_ipv4"),
        redact_pii(F.col("text2")).alias("redacted"),
    )


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher-style corpus filters):
    duplicate-word ratio (map-only scalar) and top-bigram share
    (explode → two-level agg; the per-(doc,bigram) count is map-side
    combinable, so the shuffle carries distinct bigrams, not token
    instances). Docs scoring high on either get dropped upstream of
    training."""
    from pipelines_spark.llm.text import word_bigrams

    register(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(
        (F.col("doc_id") < 500) & (F.size(F.split("text", " ")) >= 2)
    )
    bigram_counts = (
        docs.select("doc_id", F.explode(word_bigrams("text")).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    shares = bigram_counts.groupBy("doc_id").agg(
        exact_div_round(F.max("n"), F.sum("n")).alias("top_bigram_share")
    )
    # dup_word_ratio = (w − d)/w — the same exact-rational rounding
    # discipline as the bigram share (functions/exact.py)
    ws = F.split("text", " ")
    return (
        docs.select(
            "doc_id",
            exact_div_round(
                F.size(ws) - F.size(F.array_distinct(ws)), F.size(ws)
            ).alias("dup_word_ratio"),
        )
        .join(shares, "doc_id")
    )


def text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ≥ 1
    5-word shingle with a probe ("benchmark") set — here the probe is
    docs 0-9, standing in for an eval set. Shape: shingle both sides,
    equi-join on the shingle (probe side is tiny → broadcast), count
    distinct overlapping shingles per doc. At 100 TB the probe side
    stays a broadcast table and the corpus side is a map-only explode
    feeding a map-side-combinable agg — no corpus self-join."""
    from pipelines_spark.llm.dedup import word_shingles

    register(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    corpus = (
        docs.filter(F.col("doc_id") >= 10)
        .select("doc_id", F.explode(word_shingles("text", 5)).alias("sh"))
    )
    probe = (
        docs.filter(F.col("doc_id") < 10)
        .select(F.explode(word_shingles("text", 5)).alias("sh"))
        .distinct()
    )
    return (
        corpus.join(F.broadcast(probe), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_contaminated_shingles"))
    )


#: name → callable(spark, sf_dir) — the full inventory.
def q11_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped: suppliers whose shipped value exceeds a
    FRACTION OF THE GLOBAL TOTAL — group-agg HAVING compared against
    an uncorrelated scalar subquery. Catalyst computes the scalar once
    (single-row subquery broadcast into the filter), so the fact table
    is scanned twice but never joined all-pairs. The HAVING compares
    exact DECIMAL sums scaled by an integer (``sum*100 > total``)
    instead of a float fraction, so the boundary cannot flip between
    engines or partitionings. (No partsupp table in the corpus; the
    lineitem value-per-supplier reshape keeps the identical plan
    shape. Reference parity: aggregate-vs-global checks in
    pipelines/utils/dump_db/tasks.py-style quality gates.)"""
    register(spark, sf_dir, ("lineitem", "supplier"))
    return spark.sql(
        f"""
        SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
               {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS value
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY s.s_suppkey, s.s_name
        HAVING {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} * 100 > (
            SELECT {exact_sum_sql("l2.l_extendedprice * (1 - l2.l_discount)")}
            FROM lineitem l2
        )
        """
    )


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped conditional counts: one pass over the
    orders⋈lineitem join classifying each line into high/low priority
    buckets with CASE (no shipmode column in the corpus;
    returnflag plays the GROUP BY role). Map-side partial aggregation
    collapses the join output before the single shuffle."""
    register(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(
        """
        SELECT l.l_returnflag AS returnflag,
               sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS high_line_count,
               sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_returnflag
        """
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: revenue-per-supplier over a quarter, then
    keep the supplier(s) whose revenue EQUALS the max over that same
    aggregated view — the view is referenced twice (once for rows,
    once for the scalar max). Equality is on the exact DECIMAL sum,
    not the rounded double, so ties resolve identically in both
    engines. Spark reuses the aggregated subplan via AQE/CTE-reuse
    rather than re-scanning when beneficial."""
    register(spark, sf_dir, ("lineitem", "supplier"))
    return spark.sql(
        f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {exact_sum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue_d
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
               CAST(round(r.total_revenue_d, 2) AS DOUBLE) AS total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue_d = (SELECT max(total_revenue_d) FROM revenue)
        """
    )


def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: distinct-supplier counts per part attribute
    bucket, EXCLUDING a NOT-IN subquery of flagged suppliers. The
    corpus has no partsupp table, so the (partkey, suppkey) relation
    is derived as DISTINCT pairs from lineitem — itself a dedup
    shuffle that feeds the join. NOT IN over a provably non-null key
    set becomes a null-safe anti-join, not a per-row scan."""
    register(spark, sf_dir, ("lineitem", "part", "supplier"))
    return spark.sql(
        """
        SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
               count(DISTINCT ps.l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part p ON p.p_partkey = ps.l_partkey
        WHERE p.p_brand <> 'Brand#15'
          AND p.p_type NOT LIKE 'MEDIUM%'
          AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND ps.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
        """
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: customers with any order whose total quantity
    exceeds a threshold — IN over a grouped-HAVING subquery on the
    same fact table. Catalyst turns the IN into a semi-join against
    the aggregated key set; the outer 3-way join then re-aggregates
    per (customer, order). Ordered top-N so the result is stable."""
    register(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        f"""
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               o.o_orderdate,
               CAST(round(CAST(o.o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE) AS total_price,
               {exact_sum_sql("l.l_quantity", 2)} AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING {exact_sum_sql("l_quantity")} > 250
        )
        GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY total_price DESC, o_orderkey ASC
        LIMIT 100
        """
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped: suppliers who were the SOLE late supplier on
    a multi-supplier finished order — an EXISTS plus a NOT EXISTS,
    both correlated self-joins on the same fact table. (The corpus
    has no commit/receipt dates, so "late" is shipdate more than 60
    days after the order date — per-line lateness correlated on the
    outer order, preserving Q21's exists/not-exists decorrelation
    shape.) Catalyst plans these as one semi- and one anti-join on
    l_orderkey, never per-row subqueries."""
    register(spark, sf_dir, ("supplier", "lineitem", "orders"))
    return spark.sql(
        """
        SELECT s.s_name AS supp_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s.s_name
        ORDER BY numwait DESC, supp_name ASC
        LIMIT 50
        """
    )


def w7_rank_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function completion (SURVEY §2.7): dense_rank,
    percent_rank, cume_dist, and ntile(4) over one window, plus
    first/last_value with an explicit full-partition frame. The
    ordering key includes the primary key so every function is
    deterministic; all four ranks share ONE Window spec, so Spark
    computes them in a single sort+window pass (one shuffle)."""
    register(spark, sf_dir, ("customer",))
    # percent_rank/cume_dist are exact rationals ((rn-1)/(n-1), rn/n —
    # the window order includes the unique key, so every row is its
    # own peer group and rank()==row_number()); round(double, 6) of an
    # exact rational is the cross-engine tie class (PARITY_SF01.md),
    # so both are computed round-half-up in integer arithmetic.
    n_part = "count(*) OVER (PARTITION BY c_mktsegment)"
    prank = exact_mean_sparksql(
        "(row_number() OVER w - 1)", f"({n_part} - 1)", sum_scale=0, out_scale=6
    )
    cdist = exact_mean_sparksql(
        "(row_number() OVER w)", f"({n_part})", sum_scale=0, out_scale=6
    )
    return spark.sql(
        f"""
        SELECT c_custkey, c_mktsegment,
               CAST(round(CAST(c_acctbal AS DECIMAL(18,6)), 2) AS DOUBLE) AS acctbal,
               dense_rank()   OVER w AS drank,
               CASE WHEN {n_part} = 1 THEN CAST(0.0 AS DOUBLE)
                    ELSE {prank} END AS prank,
               {cdist} AS cdist,
               ntile(4)       OVER w AS quartile,
               first_value(c_custkey) OVER (
                   PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_custkey
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
        """
    )


def a14_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE completion (SURVEY §2.6; a12 covers ROLLUP): all four
    grouping combinations of (year, returnflag) in one pass with
    GROUPING() flags distinguishing data NULLs from subtotal rows.
    Spark expands the cube map-side (Expand node) so the input is
    read once, not once per grouping set."""
    register(spark, sf_dir, ("lineitem",))
    return spark.sql(
        f"""
        SELECT CAST(coalesce(year(l_shipdate), -1) AS INTEGER) AS ship_year,
               coalesce(l_returnflag, 'ALL') AS returnflag,
               CAST(grouping(year(l_shipdate)) AS INTEGER)  AS g_year,
               CAST(grouping(l_returnflag) AS INTEGER)      AS g_flag,
               {exact_sum_sql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY CUBE (year(l_shipdate), l_returnflag)
        """
    )


def a15_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators/skew.py): the same
    totals a direct GROUP BY computes, but the hot key's rows spread
    over 32 salt buckets in stage one — the shape that keeps a
    Zipf-hot key from pinning a single reducer at 100 TB. The oracle
    IS the direct GROUP BY: salting must be invisible in the result.
    The summed column routes through DECIMAL so the two-stage
    recombination is bit-identical to the one-stage sum."""
    from pipelines_spark.operators.skew import salted_aggregate

    register(spark, sf_dir, ("events",))
    ev = spark.table("events").withColumn(
        "val_dec", F.col("value").cast("decimal(18,6)")
    )
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("*", "count"),
            "total_value": ("val_dec", "sum"),
            "max_value": ("value", "max"),
            "min_value": ("value", "min"),
        },
        buckets=32,
    )
    return out.select(
        "event_type",
        "n",
        # round-ok: total_value is the DECIMAL(18,6) val_dec sum — exact
        F.round(F.col("total_value"), 2).cast("double").alias("total_value"),
        # round-ok: max/min select a stored 2-dp double — identity at 4
        F.round(F.col("max_value"), 4).alias("max_value"),
        # round-ok: max/min select a stored 2-dp double — identity at 4
        F.round(F.col("min_value"), 4).alias("min_value"),
    )


def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension-history merge (operators/scd.py): bootstrap a
    versioned order-state history from a 1996 snapshot, then fold in
    the 1997 and 1998 snapshots. The synthetic snapshot mutations
    exercise every row fate — unchanged pass-through, value change
    (close + new version), key deletion (close), brand-new key
    (insert), and a deleted key reappearing (closed row passes
    through + fresh open row). Each merge is one full-outer equi-join
    on the business key; closed rows never re-enter the join."""
    from pipelines_spark.operators.scd import scd2_init, scd2_merge

    register(spark, sf_dir, ("orders",))
    o = spark.table("orders")

    def snap(cutoff: str, status_mod: int, status_val: str, price_mod: int, del_mod: int) -> DataFrame:
        s = o.filter(F.col("o_orderdate") < F.expr(f"TIMESTAMP_NTZ'{cutoff}'"))
        if del_mod:
            s = s.filter(F.col("o_orderkey") % del_mod != 0)
        return s.select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % status_mod == 0, F.lit(status_val))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(F.col("o_orderkey") % price_mod == 0, F.col("o_totalprice") + 10.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )

    t = lambda d: F.expr(f"TIMESTAMP_NTZ'{d} 00:00:00'")  # noqa: E731
    hist = scd2_init(
        o.filter(F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ'1996-01-01'")).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        effective_ts=t("1996-01-01"),
    )
    hist = scd2_merge(
        hist,
        snap("1997-01-01", 5, "F", 7, 11),
        keys=["o_orderkey"],
        track_cols=["o_orderstatus", "o_totalprice"],
        effective_ts=t("1997-01-01"),
    )
    hist = scd2_merge(
        hist,
        snap("1998-01-01", 3, "O", 2, 13),
        keys=["o_orderkey"],
        track_cols=["o_orderstatus", "o_totalprice"],
        effective_ts=t("1998-01-01"),
    )
    return hist


def a18_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed heavy hitters (operators/frequency.py):
    users with strictly more than 1/125 of all events, found via
    per-partition Misra-Gries candidate generation + exact recount of
    candidates only — the shuffle carries O(partitions x capacity)
    candidate keys, never the full key cardinality. Output is
    partitioning-independent (MG guarantees no false negatives at
    capacity >= k; the recount drops false positives)."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.frequency import heavy_hitters

    return heavy_hitters(spark.table("events"), "user_id", k=125)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (llm/dedup.py::semantic_dedup):
    trained k-means clusters bound the pairwise comparison to
    within-cluster candidates; pruned vectors report their
    lowest-id near-neighbor as canonical. The oracle replays the
    full deterministic training + assignment + pair scan in SQL."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.dedup import semantic_dedup

    return semantic_dedup(
        spark.table("embeddings"), id_col="vec_id", vec_col="embedding",
        n_clusters=8, iters=2, threshold=0.4,
    )


def o12_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via VariantType (Spark 4): ``parse_json``
    once into a variant, typed ``try_variant_get`` extraction — the
    shredding-ready scale path for schema-on-read payloads (o7's
    get_json_object twin; variant decodes the JSON once per row
    instead of re-parsing per extracted path)."""
    register(spark, sf_dir, ("events",))
    v = F.parse_json(F.col("props"))
    df = spark.table("events").select(
        "event_type", F.try_variant_get(v, "$.k", "long").alias("k")
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


def w8_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key time-series resampling with linear interpolation: each
    user's `value` series re-gridded to 30-minute ticks; ticks between
    two observations take the time-weighted linear blend, ticks
    outside the observed range stay NULL (no extrapolation).

    The Spark shape: per-user tick spine (sequence+explode over the
    user's own [min,max] — bounded like the T4 recapture spine), a
    union of ticks with observations, then two IGNORE-NULLS window
    passes over ONE partitioning by user — a single shuffle; the
    interpolation itself is pure column math. The forward pass scans
    the partition DESCENDING with a preceding frame (same trick as
    the forward as-of join, operators/joins.py): Spark's
    UnboundedFollowing frame re-evaluates from scratch per row —
    O(rows²) per key — while the preceding frame over the reversed
    order is linear; a second intra-partition sort, no extra
    exchange. The reference does this per-station in pandas
    (`resample().interpolate()`); this is the distributed equivalent
    with identical semantics."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events").select(
        "user_id", F.col("ts").alias("obs_ts"), F.col("value").alias("obs_val")
    )
    STEP = 1800  # 30 min
    bounds = ev.groupBy("user_id").agg(
        F.min("obs_ts").alias("t0"), F.max("obs_ts").alias("t1")
    )
    ticks = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                (F.ceil(F.unix_timestamp("t0") / STEP) * STEP).cast("long"),
                F.unix_timestamp("t1").cast("long"),
                F.lit(STEP),
            )
        ).alias("tick_s"),
    )
    obs = ev.select(
        "user_id",
        F.unix_timestamp("obs_ts").alias("t_s"),
        F.col("obs_val").alias("val"),
        F.lit(0).alias("is_tick"),
    )
    grid = ticks.select(
        "user_id",
        F.col("tick_s").alias("t_s"),
        F.lit(None).cast(obs.schema["val"].dataType).alias("val"),
        F.lit(1).alias("is_tick"),
    )
    # observations sort before a coincident tick so the tick sees the
    # observation as its "previous" value (exact-hit => observed value)
    # `val` joins the sort: two observations sharing a timestamp
    # otherwise tie-break non-deterministically (and differently
    # across engines) for the prev/next pick
    order = [F.col("t_s"), F.col("is_tick"), F.col("val").asc_nulls_first()]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # "first non-null strictly AFTER this row in ascending order" ==
    # "last non-null strictly BEFORE it when the partition is scanned
    # in the exact reverse order" — a growing (linear) frame instead
    # of Spark's per-row-recomputed UnboundedFollowing frame
    rev_order = [
        F.col("t_s").desc(),
        F.col("is_tick").desc(),
        F.col("val").desc_nulls_last(),
    ]
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*rev_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    both = obs.unionByName(grid)
    filled = (
        both.withColumn("prev_val", F.last("val", ignorenulls=True).over(w_back))
        .withColumn(
            "prev_t",
            F.last(F.when(F.col("val").isNotNull(), F.col("t_s")), ignorenulls=True).over(w_back),
        )
        .withColumn("next_val", F.last("val", ignorenulls=True).over(w_fwd))
        .withColumn(
            "next_t",
            F.last(F.when(F.col("val").isNotNull(), F.col("t_s")), ignorenulls=True).over(w_fwd),
        )
        .filter(F.col("is_tick") == 1)
    )
    frac = (F.col("t_s") - F.col("prev_t")) / (F.col("next_t") - F.col("prev_t"))
    interp = F.when(
        F.col("prev_t").isNotNull() & F.col("next_t").isNotNull(),
        F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac,
    )
    # floor-quantized half-up rounding: identical-formula rounding on
    # both engines (round() semantics on binary doubles differ in the
    # last ulp between Spark's BigDecimal HALF_UP and DuckDB)
    quant = F.floor(interp * 1e4 + 0.5) / 1e4
    return filled.select(
        "user_id",
        F.timestamp_seconds(F.col("t_s")).alias("tick_ts"),
        quant.alias("value_interp"),
    )


def a19_stale_feeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch feed watchdog (the streaming twin lives in
    streaming/twstate.py): per-key last reading vs the corpus head —
    keys silent for more than 48 hours are flagged with their silence
    duration. One agg shuffle; the corpus head is a 1-row broadcast
    (the reference answers this from its Redis last-reading map;
    here it is a query over the data itself)."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events")
    head = ev.agg(F.max("ts").alias("head_ts"))
    per_key = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"), F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_key.crossJoin(F.broadcast(head))
        .withColumn(
            "hours_silent",
            F.floor((F.unix_timestamp("head_ts") - F.unix_timestamp("last_seen")) / 3600).cast("long"),
        )
        .filter(F.col("hours_silent") > 48)
        .select("user_id", "last_seen", "n_events", "hours_silent")
    )


def a20_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers are cohorted by the month of
    their FIRST order; each (cohort_month, month_offset) cell counts
    the distinct cohort members who ordered that many months later.

    Exactly two shuffles, no join: one ``collect_set`` aggregate packs
    each customer's distinct active months (bounded by the calendar —
    at most months-of-history entries per customer, never
    orders-of-history), the cohort month is ``array_min`` of that set
    (map-side), and the explode feeds a plain count — rows are
    already distinct per (customer, month), so no COUNT DISTINCT
    expand. The obvious first-order-subquery-join formulation costs a
    third shuffle AND a per-customer build side that is not
    broadcastable at scale."""
    register(spark, sf_dir, ("orders",))
    o = spark.table("orders").select(
        "o_custkey", F.date_trunc("month", F.col("o_orderdate")).alias("om")
    )
    packed = o.groupBy("o_custkey").agg(F.collect_set("om").alias("oms"))
    return (
        packed.select(
            F.array_min("oms").alias("cohort_month"),
            F.explode("oms").alias("om"),
        )
        .groupBy(
            "cohort_month",
            F.months_between("om", "cohort_month").cast("int").alias("month_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.col("cohort_month").cast("date").alias("cohort_month"),
            "month_offset",
            "n_active",
        )
    )


def w9_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user streaks of CONSECUTIVE days with at
    least one purchase. The island key is the classic
    day-number-minus-row-number trick — constant within a consecutive
    run, so one window pass + one aggregate finds every streak with a
    single shuffle (both operators share the user_id partitioning).
    The reference detects the inverse (missing capture minutes) with a
    spine anti-join (J5/T4); islands are the dense-side dual."""
    register(spark, sf_dir, ("events",))
    days = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    grp = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) - rn
    return (
        days.withColumn("_grp", grp)
        .groupBy("user_id", "_grp")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .select("user_id", "streak_start", "streak_end", "streak_days")
    )


def j13_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (operators/joins.py::blocked_fuzzy_pairs):
    near-identical part names at edit distance <= 3, compared only
    within a blocking key (first name token) so the candidate set is
    an equi-join over blocks — sum(block^2) pairs, never n^2. The
    Levenshtein refine is the built-in JVM expression."""
    register(spark, sf_dir, ("part",))
    from pipelines_spark.operators.joins import blocked_fuzzy_pairs

    return blocked_fuzzy_pairs(
        spark.table("part"),
        "p_name",
        block_expr=F.split(F.col("_name"), " ").getItem(0),
        max_dist=3,
    )


def er_part_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ENTITY RESOLUTION — the composition record-linkage
    systems actually run, assembled from three already-checked
    engines: blocking + fuzzy match (operators/joins.py::
    blocked_fuzzy_pairs — Σblock² candidate pairs, never n²,
    JVM levenshtein refine) → transitive closure over the match graph
    (llm/dedup.py::connected_components, large-star/small-star) →
    per-entity cluster rollup with the lexicographically-least name
    as the canonical id (CC's own least-label convention, so
    canonical = component_id with zero extra passes). Returns one row
    per multi-member entity: (canonical_name, n_members, members
    sorted, '|'-joined — serialized to a scalar string because the
    driver's pandas canonicalization cannot hash bare array cells;
    same convention as a4_nested_content's to_json). Singleton names
    carry no linkage information and are excluded, same as
    dedup_clusters."""
    register(spark, sf_dir, ("part",))
    from pipelines_spark.llm.dedup import connected_components
    from pipelines_spark.operators.joins import blocked_fuzzy_pairs

    pairs = blocked_fuzzy_pairs(
        spark.table("part"),
        "p_name",
        block_expr=F.split(F.col("_name"), " ").getItem(0),
        max_dist=3,
    )
    labels = connected_components(pairs, a_col="name_a", b_col="name_b")
    return (
        labels.groupBy(F.col("component_id").alias("canonical_name"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.concat_ws("|", F.array_sort(F.collect_list("node"))).alias(
                "members"
            ),
        )
        .orderBy("canonical_name")
    )


def a21_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketches.py): estimate
    COUNT(DISTINCT l_orderkey) from the 256 smallest distinct md5
    hashes. Per-partition state is O(k) via mapInPandas; the merge is
    a distinct + TakeOrdered over <= k x partitions rows — the exact
    distinct's full key shuffle never happens. Deterministic and
    bit-replayable by the oracle (same md5-fold hash family as
    simhash/sampling)."""
    register(spark, sf_dir, ("lineitem",))
    from pipelines_spark.operators.sketches import kmv_distinct

    return kmv_distinct(spark.table("lineitem"), "l_orderkey", k=256)


def a22_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel view -> click -> purchase: a user counts
    at each stage only if the stage event happened strictly AFTER
    their entry into the previous stage. Three chained unbounded
    windows over ONE user_id partitioning (a single shuffle; Catalyst
    reuses the exchange), then a global roll-up."""
    register(spark, sf_dir, ("events",))
    w = Window.partitionBy("user_id")
    df = spark.table("events").select("user_id", "event_type", "ts")
    df = df.withColumn(
        "v_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    df = df.withColumn(
        "c_ts",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "p_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = df.groupBy("user_id").agg(
        F.max("v_ts").alias("v_ts"),
        F.max("c_ts").alias("c_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    return per_user.agg(
        F.count("v_ts").alias("n_viewed"),
        F.count("c_ts").alias("n_clicked_after_view"),
        F.count("p_ts").alias("n_purchased_after_click"),
    )


def w10_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value series (step-hold
    between observations): sum(value_i * dt_i) / span, dt from
    lead() over one user_id window — a single shuffle. The weighted
    sum runs in DECIMAL (exact, order-independent) per the float
    determinism convention; the final division is quantized with the
    engine-identical floor(x*1e4+0.5)/1e4 rounding."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events").select(
        "user_id", _epoch_us("ts").alias("t_us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "value")
    withnext = ev.withColumn("next_us", F.lead("t_us").over(w))
    contrib = F.when(
        F.col("next_us").isNotNull(),
        F.col("value").cast("decimal(18,4)") * (F.col("next_us") - F.col("t_us")),
    )
    g = withnext.groupBy("user_id").agg(
        F.sum(contrib).cast("decimal(38,4)").alias("wsum"),
        (F.max("t_us") - F.min("t_us")).alias("span_us"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    twa = F.col("wsum").cast("double") / F.col("span_us").cast("double")
    return g.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_obs",
        (F.floor(twa * 1e4 + 0.5) / 1e4).alias("twa_value"),
    )


def j14_max_concurrent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: each order is open from
    o_orderdate until its last lineitem ships; the peak number of
    simultaneously-open orders per customer is the running sum of
    +1/-1 boundary events ordered by time — one window partitioned by
    customer. This is the scalable alternative to the quadratic
    interval self-join (every pairwise overlap test); boundary events
    double the rows but the work stays O(n log n) per key. Half-open
    [open, close) semantics: a close sorts before an open at the same
    instant (delta ascending)."""
    register(spark, sf_dir, ("orders", "lineitem"))
    close = spark.table("lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_ts")
    )
    spans = spark.table("orders").join(
        close, F.col("o_orderkey") == F.col("l_orderkey")
    ).select("o_custkey", F.col("o_orderdate").alias("open_ts"), "close_ts")
    deltas = spans.select(
        "o_custkey", F.col("open_ts").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            "o_custkey", F.col("close_ts").alias("t"), F.lit(-1).alias("delta")
        )
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deltas.withColumn("open_now", F.sum("delta").over(w))
        .groupBy("o_custkey")
        .agg(F.max("open_now").alias("max_open_orders"))
    )


def w11_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the
    user's most recent PRECEDING non-purchase event, but only if that
    touch happened within the 24 h lookback; otherwise
    'unattributed'. One user_id window over the full event stream
    (ignore-nulls last over an exclusive preceding frame — the same
    scan shape as the as-of join's union-window encoding), then a
    tiny aggregate by touch type. Ties at identical timestamps break
    on event_id for engine-identical results."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events").select(
        "user_id", "event_type", "event_id", _epoch_us("ts").alias("t_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touch_t = F.when(F.col("event_type") != "purchase", F.col("t_us"))
    tagged = ev.withColumn(
        "touch_type", F.last(touch, ignorenulls=True).over(w)
    ).withColumn("touch_us", F.last(touch_t, ignorenulls=True).over(w))
    day_us = 24 * 3600 * 1_000_000
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("touch_us").isNotNull()
                & (F.col("t_us") - F.col("touch_us") <= day_us),
                F.col("touch_type"),
            )
            .otherwise(F.lit("unattributed"))
            .alias("touch_type")
        )
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


def a23_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers (data-quality staple the reference
    approximates with hard-coded bounds filters, cf. F1): events more
    than 3 sample standard deviations from their event-type mean.
    The moments (n, Σx, Σx²) accumulate in DECIMAL — exact and
    order-independent, so mean/std are bit-identical across engines
    and partitionings — and broadcast back onto the scan (5 groups);
    the z itself is quantized before the threshold compare so the
    cut is engine-identical at the boundary."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events")
    vdec = F.col("value").cast("decimal(18,4)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("decimal(38,4)").alias("s1"),
        F.sum(vdec * vdec).cast("decimal(38,8)").alias("s2"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    enriched = ev.join(F.broadcast(stats), "event_type").withColumn(
        "_z",
        (F.col("value") - s1 / n)
        / F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0))),
    )
    zq = F.floor(F.abs(F.col("_z")) * 1e4 + 0.5) / 1e4
    return (
        enriched.withColumn("abs_z", zq)
        .filter(F.col("abs_z") > 3.0)
        .select("event_id", "event_type", "value", "abs_z")
    )


def j15_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the 20 part pairs most often bought in
    the same order. NO self-join: one basket aggregate packs each
    order's distinct parts (collect_set dedupes map-side), and the
    i<j pair expansion is array math on that row — O(items²) per
    ORDER, bounded by basket size (~4 here), never corpus size. Two
    shuffles total vs the join formulation's three-plus-join; at
    100 TB the join would also re-shuffle the distinct output onto
    the order key. Deterministic top-k tie-break on the pair."""
    register(spark, sf_dir, ("lineitem",))
    baskets = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("parts"),
                lambda x: F.transform(
                    F.col("parts"),
                    lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                ),
            )
        ),
        lambda s: s["part_a"] < s["part_b"],
    )
    return (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


def w12_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-adoption growth curves: per event type, how many users
    performed it for the FIRST time each day, and the running total of
    adopters. First-seen day per (user, type) is one aggregate; the
    cumulative sum runs per type over per-day counts — at most one
    row per (type, calendar day), so the window input is tiny and
    partitioned by type regardless of event volume (the heavy data
    never enters any global ordering)."""
    register(spark, sf_dir, ("events",))
    first_seen = (
        spark.table("events")
        .groupBy("user_id", "event_type")
        .agg(F.min(F.to_date("ts")).alias("first_day"))
    )
    daily = first_seen.groupBy("event_type", "first_day").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.col("first_day").alias("day"),
        "n_new_users",
        F.sum("n_new_users").over(w).alias("cumulative_users"),
    )


def j16_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound (pandas merge_asof
    ``tolerance``): each purchase takes the user's most recent prior
    click value, but only if that click happened within the last 10
    minutes — staler matches yield NULL. The bound is a post-window
    column expression on the same single-shuffle union-window as-of
    plan (operators/joins.py); the oracle replays it as DuckDB ASOF
    JOIN + gap check."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], direction="backward", tolerance=600.0,
    ).withColumnRenamed("asof_value", "prior_click_value")


def a24_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode with a DETERMINISTIC tie-break: each user's
    most frequent event type (ties → alphabetically first). Built-in
    ``mode()`` leaves ties engine-defined, so both engines compute it
    explicitly: count per (user, type), rank by (count desc, type) —
    the count aggregate's (user, type) clustering feeds the per-user
    window without perfectly aligned partitioning, so this costs two
    exchanges; at scale the window input is already one row per
    (user, type), tiny next to the event volume."""
    register(spark, sf_dir, ("events",))
    counts = (
        spark.table("events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), "cnt")
    )


def o13_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional array semantics (posexplode / WITH ORDINALITY): for
    three probe terms, how early they first appear in documents —
    count of containing docs and the average 1-based first-occurrence
    position. Spark enumerates positions with ``posexplode`` and takes
    the min per (doc, term); the oracle uses ``list_position`` (first
    match) — two routes to the same contract, which is the point of
    the check. Map-side explode bounded by tokens/doc; one small
    aggregate."""
    register(spark, sf_dir, ("documents",))
    probes = ["spark", "window", "hash"]
    toks = spark.table("documents").select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "term")
    )
    first = (
        toks.filter(F.col("term").isin(probes))
        .groupBy("doc_id", "term")
        .agg((F.min("pos") + 1).alias("first_pos"))  # 1-based
    )
    return first.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.floor(F.avg("first_pos") * 1e4 + 0.5) / 1e4).alias("avg_first_pos"),
    )


def j17_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 3.2+ / DuckDB LATERAL): for
    each nation, its top-2 customers by account balance via a
    per-nation correlated ORDER BY ... LIMIT. Catalyst decorrelates
    this into the same WindowGroupLimit shape as an explicit window
    top-k — the point of the query is that the LATERAL surface parses,
    decorrelates, and matches the window formulation's results
    exactly. Deterministic tie-break on custkey."""
    register(spark, sf_dir, ("nation", "customer"))
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_name AS customer,
               t.c_acctbal AS acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, c_acctbal, c_custkey
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t
        """
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration PageRank over the customer↔supplier trade graph
    (operators/graph.py): who are the structurally central parties.
    Ranks are BIGINT fixed-point with integer division only, so the
    oracle unrolls the identical iterations in SQL and matches to the
    last unit — the same exact-replay discipline as the k-means and
    KMV oracles (float PR would drift with summation order). Each
    iteration is one join + one aggregate; iterations are bounded by
    construction, never data-driven."""
    register(spark, sf_dir, ("lineitem", "orders"))
    from pipelines_spark.operators.graph import pagerank

    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    # undirected: both directions (prefixes keep them disjoint, so a
    # plain union is already duplicate-free)
    bi = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # bi is distinct by construction: a distinct (c*, s*) pair set
    # unioned with its flip, whose src prefixes are disjoint
    return pagerank(bi, iterations=2, assume_distinct=True)


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph (parts are
    adjacent when some order contains both): a clustering-coefficient
    primitive. Edges come from the basket pair expansion (j15's
    shape); counting uses the DEGREE-ORDERED (degree, id) orientation
    (operators/graph.py::triangle_count) so each triangle counts once
    and hub vertices collect in-edges instead of fanning out the pair
    join — two equi-joins, no enumeration of all vertex triples. The
    count is orientation-invariant, so the SQL oracle keeps the
    simpler id-ordered lo<mid<hi replay."""
    register(spark, sf_dir, ("lineitem",))
    from pipelines_spark.operators.graph import triangle_count

    baskets = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("parts"),
                lambda x: F.transform(
                    F.col("parts"),
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
            )
        ),
        lambda s: s["src"] < s["dst"],
    )
    edges = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
    )
    return triangle_count(edges)


def a25_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile (the Deequ/Great-Expectations
    staple the reference approximates with per-check SQL): one row
    per column with null count, exact distinct count, and min/max
    rendered as strings. All columns profile in a single wide
    aggregate pass over one scan; COUNT DISTINCT per column expands
    internally, but the input is scanned once and the output is
    columns-many rows. The unpivot to (column, stats) rows is a
    stack() projection — no extra shuffle."""
    register(spark, sf_dir, ("orders",))
    o = spark.table("orders")
    cols = o.columns
    aggs = []
    for c in cols:
        # doubles render through DECIMAL(18,2) first: double→string
        # formatting (shortest-round-trip vs enough-digits) is the one
        # place engine string casts can disagree
        base = F.col(c)
        if o.schema[c].dataType.simpleString() == "double":
            base = base.cast("decimal(18,2)")
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_{c}"),
            F.countDistinct(c).alias(f"d_{c}"),
            # min/max in the NATIVE type, rendered afterwards —
            # min(cast-to-string) would be lexicographic
            F.min(base).cast("string").alias(f"lo_{c}"),
            F.max(base).cast("string").alias(f"hi_{c}"),
        ]
    wide = o.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', n_{c}, d_{c}, lo_{c}, hi_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS "
        "(column_name, n_nulls, n_distinct, min_str, max_str)"
    )


def a26_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals (a classic fraud /
    data-entry anomaly check): observed share per leading digit next
    to the Benford expectation log10(1+1/d). Map-side digit extract +
    one 9-group aggregate; shares quantized with the engine-identical
    floor rounding."""
    register(spark, sf_dir, ("orders",))
    d = F.substring(F.abs(F.col("o_totalprice")).cast("string"), 1, 1).cast("int")
    counts = (
        spark.table("orders")
        .filter(F.col("o_totalprice") > 0)
        .select(d.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    share = F.col("n") / F.col("total")
    expected = F.log10(1 + 1 / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.floor(share * 1e6 + 0.5) / 1e6).alias("observed_share"),
            (F.floor(expected * 1e6 + 0.5) / 1e6).alias("benford_share"),
        )
    )


def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the trade graph
    (operators/graph.py::khop_reachability): blast radius of nation
    0's suppliers — hop 1 = their customers, hop 2 = the other
    suppliers those customers also use. Per hop: one join + one
    distinct + one anti-join against settled nodes (the frontier
    never re-expands); hop counts are exact so the oracle unrolls the
    identical levels."""
    register(spark, sf_dir, ("lineitem", "orders", "supplier"))
    from pipelines_spark.operators.graph import khop_reachability

    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    bi = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = (
        spark.table("supplier")
        .filter(F.col("s_nationkey") == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey")).alias("node"))
    )
    # bi distinct by construction (see graph_pagerank)
    return khop_reachability(bi, sources, max_hops=2, assume_distinct=True)


def t3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation: 1-hour windows every
    15 minutes over the event stream — the overlapping-window twin of
    T1's tumbling capture (get_rounded_timestamp,
    pipelines/rj_smtr/tasks.py:262-297). Spark's TimeWindow expands
    each row into window/slide = 4 window assignments map-side, then
    one agg shuffle on (window_start, event_type); the data multiple
    is the fixed overlap factor, independent of corpus size."""
    register(spark, sf_dir, ("events",))
    return (
        spark.table("events")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2).alias("sum_value"),
        )
    )


def a27_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: hourly event counts
    compared against the same hour-of-day's own mean/stddev — the
    principled version of the reference's hard-coded sanity bounds
    (filter_data, pipelines/rj_smtr/utils.py:436-465). The baseline
    pools ~30 daily samples per (type, hour) slot, enough mass for a
    2.5σ cut (a per-hour-of-WEEK slot at one month of data caps |z|
    at (n-1)/√n ≈ 1.5 — mathematically unable to alarm). Hourly
    counts are exact integers; the moments (n, Σc, Σc²) accumulate as
    integers too, so both engines see bit-identical baselines; |z| is
    quantized before the threshold compare. Two agg shuffles (hour
    grid, then ~120-group baseline broadcast back onto the grid)."""
    register(spark, sf_dir, ("events",))
    hourly = (
        spark.table("events")
        .groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket_ts"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("hod", F.hour("bucket_ts").cast("int"))
    )
    # baseline moments as window aggregates over the one hourly grid:
    # a groupBy-then-join formulation would re-aggregate the events
    # scan once per branch (two full scans at 100 TB); the window
    # reuses the grid with a single extra (tiny) exchange
    c = F.col("n_events").cast("long")
    w = Window.partitionBy("event_type", "hod")
    withbase = (
        hourly.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("s1", F.sum(c).over(w))
        .withColumn("s2", F.sum(c * c).over(w))
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    # exact-integer variance guard BEFORE the float z: a zero-variance
    # slot would put Infinity through floor(), which ANSI mode
    # rejects; the guard is engine-identical integer math
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    scored = withbase.filter((F.col("n") >= 3) & (var_num > 0)).withColumn(
        "_z",
        (F.col("n_events") - s1 / n)
        / F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0))),
    )
    zq = F.floor(F.abs(F.col("_z")) * 1e4 + 0.5) / 1e4
    return (
        scored.withColumn("abs_z", zq)
        .filter(F.col("abs_z") > 2.5)
        .select("event_type", "bucket_ts", "n_events", "abs_z")
    )


def o14_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-grain table diff (operators/diff.py::table_diff) between
    two simulated snapshots of orders: the \"old\" load stops at
    1998-01-01, the \"new\" load extends to 1998-06-01 and carries a
    deterministic price correction on every 97th key. Both sides
    reduce to (key, xxhash64 fingerprint) map-side; one full-outer
    sort-merge join on the key classifies added/removed/changed."""
    register(spark, sf_dir, ("orders",))
    from pipelines_spark.operators.diff import table_diff

    orders = spark.table("orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"
    )
    old = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    new = orders.filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    ).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    return table_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


def graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (BOM-style) subtree rollup: customers form a
    parent-pointer forest (parent key = key DIV 10 — ~5 levels at
    sf0.1), and every node under key 100 reports its subtree size and
    total account balance. Spark has no recursive CTE; the closure
    comes from operators/graph.py::ancestor_closure (pointer
    doubling, ceil(log2(depth)) joins) and the rollup is one
    aggregate over the closure ⨝ balances. The oracle IS a recursive
    CTE — DuckDB walks the identical chain."""
    register(spark, sf_dir, ("customer",))
    from pipelines_spark.operators.graph import ancestor_closure

    cust = spark.table("customer").select("c_custkey", "c_acctbal")
    edges = cust.filter(F.col("c_custkey") >= 10).select(
        F.col("c_custkey").alias("node"),
        F.expr("c_custkey DIV 10").alias("parent"),
    )
    closure = ancestor_closure(edges, max_depth=8)
    subtree = closure.unionByName(
        cust.select(
            F.col("c_custkey").alias("node"), F.col("c_custkey").alias("ancestor")
        )
    )
    return (
        subtree.filter(F.col("ancestor") < 100)
        .join(cust, subtree["node"] == cust["c_custkey"])
        .groupBy(F.col("ancestor").alias("node_key"))
        .agg(
            F.count(F.lit(1)).alias("n_subtree"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("subtree_bal"),
        )
    )


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (llm/sampling.py::
    weighted_sample): 10 documents per language, selection probability
    proportional to n_chars, via the A-ES key ln(u)/w with md5-hash
    uniforms — reproducible across engines/runs/partitionings.
    Map-only scoring + WindowGroupLimit top-k per group."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import weighted_sample

    return weighted_sample(
        spark.table("documents"), "doc_id", "n_chars", k=10, group_cols=("lang",)
    ).select("lang", "rn", "doc_id", "n_chars")


def text_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine all-pairs join (llm/allpairs.py — Bayardo WWW'07
    prefix filtering) over 3-word shingle features: the weighted
    complement of the Jaccard near-dup family. Integer-quantized
    weights make every dot/norm exact, so the oracle brute-forces the
    identical arithmetic; Spark's plan never goes all-pairs — prefix
    postings ⋈ full postings, then exact map_zip_with verification."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.allpairs import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        spark.table("documents"), threshold=0.5, max_df_frac=0.5
    )


def a28_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point frequencies vs exact counts
    (operators/sketches.py::cms_table/cms_estimate): per-user event
    frequency estimated from a depth-4 × width-1024 sketch whose
    shuffle is bounded at depth×width keys per partition, joined
    against the exact count so the CMS no-undercount guarantee is
    visible in the output. Salted md5 bucket hashes make the sketch
    bit-identical across engines — the oracle replays it exactly."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.sketches import cms_estimate, cms_table

    ev = spark.table("events")
    sketch = cms_table(ev, "user_id")
    probes = ev.select("user_id").distinct()
    est = cms_estimate(sketch, probes, "user_id")
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return est.join(exact, "user_id").select("user_id", "cms_est", "exact_n")


def text_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering (Wenzek et al. 2020), the
    quality gate the reference approximates with hand rules: train an
    add-one bigram LM on the corpus itself and score every document's
    bits-per-bigram cross-entropy (llm/text.py::ngram_cross_entropy).
    Per-bigram log-probs round to 4 dp and sum as DECIMAL, so the doc
    score is partitioning- and engine-independent; plan is two count
    aggregations + two shuffle joins + one doc regroup — all linear."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.text import ngram_cross_entropy

    return ngram_cross_entropy(spark.table("documents")).orderBy("doc_id")


def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (Lee et al. 2022): 8-word
    windows hashed corpus-wide; windows occurring more than once are
    duplicates and merge into maximal per-doc spans via one
    gaps-and-islands window pass (llm/text.py::duplicate_spans). The
    repeated-window set comes from a count>1 aggregation — no
    pairwise stage at any scale."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.text import duplicate_spans

    return duplicate_spans(spark.table("documents")).orderBy("doc_id")


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided Jaccard containment pairs (Broder's containment):
    quoted/excerpted docs that symmetric Jaccard misses. Inverted
    shingle index + pair-count aggregation, smaller set reported as
    contained (llm/dedup.py::containment_pairs)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.dedup import containment_pairs

    return containment_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text", threshold=0.8
    ).orderBy("contained_id", "container_id")


#: posting-list cap for the *_capped dedup queries — defined once in
#: llm/dedup.py (DEDUP_CAP) and shared with the oracle SQL builder in
#: oracles.py so Spark and DuckDB can never desynchronize. 4 triggers
#: at every test SF (sf0.001 max df=7, sf0.01 max df=7) so the driver
#: exercises the hot-shingle branch, not the uncapped fallthrough.
from pipelines_spark.llm.dedup import DEDUP_CAP as _DEDUP_CAP  # noqa: E402


def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped n-gram Jaccard pairs — the 100 TB posture of
    ``ngram_jaccard_pairs``: shingles with document frequency >
    ``_DEDUP_CAP`` are dropped from the inverted index (candidate
    volume is quadratic in per-shingle df, so the cap bounds the
    self-join), then pairs score the EXACT Jaccard over the surviving
    shingle universe — deterministic, hence DuckDB-replayable.
    Reference parity: the exact mode's docstring contract
    (llm/dedup.py::ngram_jaccard_pairs)."""
    register(spark, sf_dir, ("documents",))
    return ngram_jaccard_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text",
        shingle_words=3, threshold=0.5, max_shingle_freq=_DEDUP_CAP,
    )


def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped containment pairs — the 100 TB posture of
    ``containment_pairs``: same ``_DEDUP_CAP`` posting-list cap as
    ``dedup_ngram_capped``; containment (|A∩B| / min(|A|,|B|)) scores
    exactly over the surviving shingle universe, numerator and
    denominators alike (llm/dedup.py::containment_pairs)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.dedup import containment_pairs

    return containment_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text",
        threshold=0.8, max_shingle_freq=_DEDUP_CAP,
    ).orderBy("contained_id", "container_id")


def sample_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture rebalancing (llm/sampling.py::mixture_rebalance):
    deterministic down-sampling so kept counts track per-source target
    weights (src0→3, src1→2, others→1 — a stand-in for a curated
    mixture spec). Exact integer basis-point rates from one
    counts aggregation; acceptance is the family's md5 hash rule.
    Output: per-source funnel (n_docs, rate_bp, n_sampled)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import mixture_rates, mixture_rebalance

    docs = spark.table("documents")
    weights = {"src0": 3, "src1": 2}  # others default to weight 1
    kept = mixture_rebalance(docs, "doc_id", "source", weights)
    rates = mixture_rates(docs, "source", weights)
    sampled = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))
    return (
        rates.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "rate_bp",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        )
        .orderBy("source")
    )


def a29_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users (operators/sketches.py::hll_distinct)
    joined against the exact count: the register table is an exact
    integer replay in any engine (md5 bucketing, scaled harmonic sum
    as BIGINT), shuffle capped at 2^b keys per partition — the
    bounded-state alternative to a full COUNT DISTINCT key shuffle."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.sketches import hll_distinct

    ev = spark.table("events")
    est = hll_distinct(ev, "user_id", b=8)
    exact = ev.filter(F.col("user_id").isNotNull()).agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.crossJoin(exact)


def w13_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing next-day forecast of daily value
    totals per event type (α = 0.3), via the closed form
    l_T = α·Σ_{t≥2}(1−α)^{T−t}·y_t + (1−α)^{T−1}·y_1 — the recursion
    unrolled into ONE weighted aggregation instead of a sequential
    per-key scan (the same rewrite family as the time-weighted
    average). Daily totals are DECIMAL-exact; each weighted term is
    rounded to 6 dp and DECIMAL-summed so the forecast is
    partitioning- and engine-exact. Plan: one daily agg + one per-key
    T join + one final agg — smoothing over observed days in
    sequence order."""
    register(spark, sf_dir, ("events",))
    daily = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(exact_sum("value").cast("double").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.withColumn("t", F.row_number().over(w))
    tmax = seq.groupBy("event_type").agg(
        F.max("t").alias("t_last"), F.max("day").alias("last_day")
    )
    terms = seq.join(tmax, "event_type").withColumn(
        "term",
        F.round(
            F.when(
                F.col("t") == 1,
                F.col("y") * F.pow(F.lit(0.7), F.col("t_last") - 1),
            ).otherwise(
                F.col("y")
                * F.lit(0.3)
                * F.pow(F.lit(0.7), F.col("t_last") - F.col("t"))
            ),
            6,
        ).cast("decimal(18,6)"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("t_last").cast("long").alias("n_days"),
            F.max("last_day").alias("last_day"),
            # round the exact DECIMAL(18,6) sum, not its double cast —
            # a 6-dp rational CAN sit on a 4-dp boundary (tie class)
            F.round(F.sum("term"), 4).cast("double").alias("forecast"),
        )
        .orderBy("event_type")
    )


def a33_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, computed by MERGING
    per-day HLL registers (MAX per bucket) instead of re-scanning raw
    events per window — the sketch-mergeability payoff: day sketches
    are built once (one bounded aggregation) and every window is a
    union of 7 tiny register tables. Exact trailing distinct joined
    alongside to expose the error. The estimator math matches
    operators/sketches.py::hll_distinct bit-for-bit."""
    register(spark, sf_dir, ("events",))
    m, scale = 256, 49
    alpha = 0.7213 / (1 + 1.079 / m)
    ev = spark.table("events").filter(F.col("user_id").isNotNull())
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll|"), F.col("user_id").cast("string"))), 1, 14
        ),
        16,
        10,
    ).cast("long")
    w = h % (1 << 48)
    rho = F.when(w == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(w)))
    daily_regs = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.expr(
                "CAST(conv(substring(md5(concat('hll|', CAST(user_id AS STRING))), 1, 14), 16, 10) AS BIGINT)"
                f" DIV {1 << 48}"
            ).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    days = daily_regs.select("day").distinct()
    merged = (
        days.alias("d")
        .join(
            daily_regs.alias("r"),
            (F.col("r.day") <= F.col("d.day"))
            & (F.col("r.day") >= F.date_sub(F.col("d.day"), 6)),
        )
        .groupBy(F.col("d.day").alias("day"), F.col("r.bucket").alias("bucket"))
        .agg(F.max("m_j").alias("m_j"))
    )
    agg = merged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - m_j)"))
        .cast("long")
        .alias("denom_used"),
    )
    denom_scaled = (
        F.col("denom_used") + (F.lit(m) - F.col("n_used")) * F.lit(1 << scale)
    ).cast("long")
    zeros = F.lit(m) - F.col("n_used")
    raw = (
        F.lit(float(alpha * m * m))
        * F.lit(float(1 << scale))
        / denom_scaled.cast("double")
    )
    est = agg.select(
        "day",
        F.round(
            F.when(
                (raw <= 2.5 * m) & (zeros > 0),
                F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
            ).otherwise(raw),
            0,
        )
        .cast("long")
        .alias("est_distinct"),
    )
    pairs = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    exact = (
        days.alias("d")
        .join(
            pairs.alias("p"),
            (F.col("p.day") <= F.col("d.day"))
            & (F.col("p.day") >= F.date_sub(F.col("d.day"), 6)),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("p.user_id").alias("exact_distinct"))
    )
    return est.join(exact, "day").orderBy("day")


def a36_kmv_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct users (the order-statistics sibling of
    a30's per-group HLL): kmv_candidates_by keeps the 256 smallest
    distinct hashes per event type — WindowGroupLimit caps each map
    task's output at k rows per group before the exchange — and the
    integer estimator runs per group. Exact counts joined alongside."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.sketches import kmv_candidates_by

    k = 256
    ev = spark.table("events")
    cand = kmv_candidates_by(ev, "user_id", "event_type", k=k)
    numer = (k - 1) * (1 << 32)
    est = (
        cand.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("kth_hash"))
        .select(
            "event_type",
            F.when(F.col("n_seen") < k, F.col("n_seen"))
            .when(
                F.col("kth_hash") > 0,
                F.expr(f"CAST({numer} AS BIGINT) DIV kth_hash"),
            )
            .alias("est_distinct"),
        )
    )
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "event_type").orderBy("event_type")


def a35_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: the
    z-score screen (a23) breaks when the outliers themselves inflate
    the mean/stddev; median ± k·MAD does not (50% breakdown point).
    Per event type: median, MAD, and the count/extremes of rows with
    |value − median| > 3 · 1.4826 · MAD (the normal-consistency
    constant). Two percentile aggregations + a broadcast-back filter
    — same shape as the moments pass in a23."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("_med").alias("_med"),
            F.expr("percentile(abs(value - _med), 0.5)").alias("_mad"),
        )
    )
    flagged = (
        ev.join(F.broadcast(mad), "event_type")
        .withColumn(
            # quantize both sides to 6 dp before comparing: med/mad
            # come from percentile interpolation, and a last-ulp
            # engine difference at an exact threshold boundary would
            # flip the count (repo convention: round-before-compare,
            # cf. a23's quantized z-threshold)
            "_is_out",
            # round-ok: deliberate coarse quantize before compare — it
            # kills the 1-ulp percentile-interpolation class, which is
            # strictly more likely than a 6-dp boundary coincidence
            F.round(F.abs(F.col("value") - F.col("_med")), 6)
            # round-ok: same quantize-before-compare convention
            > F.round(F.lit(3 * 1.4826) * F.col("_mad"), 6),
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.round(F.max("_med"), 4).alias("median"),
            F.round(F.max("_mad"), 4).alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_is_out"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max(F.when(F.col("_is_out"), F.col("value"))), 4).alias(
                "worst_high"
            ),
            F.round(F.min(F.when(F.col("_is_out"), F.col("value"))), 4).alias(
                "worst_low"
            ),
        )
        .orderBy("event_type")
    )


def a34_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra (the theta-sketch trick on KMV): per-segment
    user sketches built ONCE (operators/sketches.py::kmv_candidates_by,
    WindowGroupLimit-bounded shuffle), then |view ∪ click| from the
    merged candidates and |view ∩ click| by inclusion–exclusion —
    segment-overlap questions answered from tiny sketches without
    re-scanning raw events per combination. Exact counterparts
    alongside."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.sketches import (
        kmv_candidates_by,
        kmv_estimate_from_candidates,
    )

    k = 256
    ev = spark.table("events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isin("view", "click")
    )
    cand = kmv_candidates_by(ev, "user_id", "event_type", k=k)
    est_a = kmv_estimate_from_candidates(
        cand.filter(F.col("event_type") == "view").select("h"), k
    ).select(F.col("est_distinct").alias("est_view"))
    est_b = kmv_estimate_from_candidates(
        cand.filter(F.col("event_type") == "click").select("h"), k
    ).select(F.col("est_distinct").alias("est_click"))
    est_u = kmv_estimate_from_candidates(cand.select("h"), k).select(
        F.col("est_distinct").alias("est_union")
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    exact = (
        views.withColumn("_v", F.lit(1))
        .join(clicks.withColumn("_c", F.lit(1)), "user_id", "full")
        .agg(
            F.sum("_v").cast("long").alias("exact_view"),
            F.sum("_c").cast("long").alias("exact_click"),
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(
                F.when(F.col("_v").isNotNull() & F.col("_c").isNotNull(), 1)
            ).cast("long").alias("exact_inter"),
        )
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .withColumn(
            "est_inter",
            F.greatest(
                F.lit(0),
                F.col("est_view") + F.col("est_click") - F.col("est_union"),
            ).cast("long"),
        )
        .crossJoin(exact)
    )


def a31_sampled_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles from a deterministic 10% hash sample next to the
    exact ones: the bounded-memory scale path for quantile profiling
    (a fixed-rate md5 sample is mergeable across partitions/days by
    construction — union of samples IS the sample of the union, the
    property random sampling lacks). Exact interpolated percentile on
    both sides; the sample membership rule is the sampling family's
    salted hash, replayed bit-for-bit by the oracle."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.llm.sampling import sample_fraction

    ev = spark.table("events").filter(F.col("value").isNotNull())
    samp = sample_fraction(ev, "event_id", percent=10, salt="pct|")
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_full"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_exact"),
    )
    est = samp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_sample"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_sample"),
    )
    return exact.join(est, "event_type").orderBy("event_type")


def a32_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor
    (operators/drift.py::psi_drift): value distribution of each event
    type in the first 15 days (reference) vs the rest (current), 10
    equal-width bins on the reference min/max, zero-bin clamp at
    1e-4, per-bin terms rounded + DECIMAL-summed. The production
    check that catches a feature distribution shifting before the
    model downstream degrades."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.drift import psi_drift

    ev = spark.table("events").filter(F.col("value").isNotNull())
    cut = ev.agg(F.date_add(F.min(F.to_date("ts")), 15).alias("_cut"))
    with_cut = ev.crossJoin(F.broadcast(cut))
    ref = with_cut.filter(F.to_date("ts") < F.col("_cut")).drop("_cut")
    cur = with_cut.filter(F.to_date("ts") >= F.col("_cut")).drop("_cut")
    return psi_drift(ref, cur, "value", ["event_type"]).orderBy("event_type")


def a30_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HyperLogLog (operators/sketches.py::hll_distinct_by):
    distinct users per event type with 2^b registers of state per
    group — the shuffle carries (group × 2^b) keys, never the
    (group, user) distinct pairs an exact COUNT DISTINCT moves.
    Joined against the exact per-type count to expose the error."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.sketches import hll_distinct_by

    ev = spark.table("events")
    est = hll_distinct_by(ev, "user_id", ["event_type"], b=8)
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "event_type").orderBy("event_type")


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016) on the corpus:
    the first 8 learned merges with their pair counts. Training runs
    over the DISTINCT-WORD table (one corpus aggregation up front;
    each iteration is a vocabulary-sized pair count + a 1-row
    TakeOrdered argmax — bounded driver state, llm/bpe.py). The
    oracle replays all 8 iterations exactly: integer pair counts,
    (cnt DESC, l, r) argmax, and greedy leftmost merge application
    via a gaps-and-islands rewrite equivalent to the engine's fold."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.bpe import bpe_train

    merges = bpe_train(spark.table("documents"), n_merges=8)
    return spark.createDataFrame(
        [
            (m["rank"], m["left_sym"], m["right_sym"], m["pair_count"])
            for m in merges
        ],
        "rank int, left_sym string, right_sym string, pair_count long",
    ).orderBy("rank")


def text_bpe_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies under the 8-merge BPE vocabulary —
    the distributed ENCODE path: learned merges applied as chained
    JVM folds over the distinct-word table, weighted by word
    frequency (tokenize once per distinct word, never per
    occurrence), top 20 tokens with deterministic tie-break."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.bpe import (
        bpe_token_counts,
        bpe_train,
        word_frequencies,
    )
    from pipelines_spark.plans.staging import stage

    docs = spark.table("documents")
    # r12 (guide §2.4): training AND encoding consume the same
    # (word, freq) vocabulary — stage it once (vocabulary-sized, the
    # bounded output of BPE's only corpus-scale aggregation) instead
    # of running the corpus explode+agg pass twice. Values unchanged:
    # both consumers read the identical materialized rows.
    wf = stage(word_frequencies(docs))
    merges = bpe_train(docs, n_merges=8, wf=wf)
    return (
        bpe_token_counts(docs, merges, wf=wf)
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )



def j18_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap self-join — the join shape J7's
    point-in-range join does NOT cover (meeting/visit overlap counts,
    co-presence detection). Each event carries a synthesized validity
    interval [ts, ts + floor(value) minutes]; pairs of the same user
    whose intervals overlap (inclusive) are counted per user.

    Scale shape: TEMPORAL BUCKETING, the standard interval-join
    decomposition — each interval explodes to the calendar days it
    touches (bounded: values are minutes, so <= 2 buckets/row), the
    pair join keys on (user_id, day) so candidates are co-bucketed
    rather than quadratic per user, a DISTINCT collapses pairs seen
    in both buckets, and the exact overlap predicate verifies. At
    100 TB the bucket width tunes candidate volume exactly like the
    LSH band width; the oracle replays the quadratic formulation
    directly, proving the decomposition lossless."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.joins import interval_overlap_join

    iv = spark.table("events").select(
        "event_id", "user_id", F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(floor(value) AS INT), ts)").alias("e"),
    )
    pairs = interval_overlap_join(
        iv, id_col="event_id", key_col="user_id", start_col="s", end_col="e"
    )
    return (
        pairs.groupBy(F.col("key").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_overlapping_pairs"))
        .orderBy(F.col("n_overlapping_pairs").desc(), F.col("user_id").asc())
        .limit(10)
    )


def a37_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted l_extendedprice per return
    flag): smallest value whose cumulative weight reaches half the
    total — the robust-stats aggregate percentile() cannot express.
    Exact DECIMAL weights and a RANGE cumulative frame (all rows with
    value <= current, so ties accumulate together) keep the boundary
    comparison 2*cw >= tw integer-exact and engine-independent; the
    selected value itself is passed through untouched."""
    register(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        WITH cum AS (
            SELECT l_returnflag, l_extendedprice,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                       PARTITION BY l_returnflag ORDER BY l_extendedprice
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                       PARTITION BY l_returnflag) AS tw
            FROM lineitem
        )
        SELECT l_returnflag,
               CAST(min(l_extendedprice) AS DOUBLE) AS weighted_median_price
        FROM cum
        WHERE 2 * cw >= tw
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


def a38_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue within each
    nation — the inequality/concentration profile of a sales base
    (and, in a training-data pipeline, of per-source token
    contributions). Rank formulation G = 2*SUM(i*x_i)/(n*SUM(x)) -
    (n+1)/n over x sorted ascending: revenue sums are exact DECIMAL,
    the rank product stays DECIMAL, and the only float operations are
    two final divisions — deterministic across engines. Shape: one
    agg + one per-nation window + one agg, all keyed on nation."""
    register(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        WITH rev AS (
            SELECT c_nationkey, o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey, o_custkey
        ),
        ranked AS (
            SELECT c_nationkey, x,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                      ORDER BY x, o_custkey) AS i
            FROM rev
        )
        SELECT c_nationkey,
               count(*) AS n_customers,
               CAST(round(
                   CAST(2 * SUM(i * x) AS DOUBLE) / CAST(COUNT(*) * SUM(x) AS DOUBLE)
                   - (COUNT(*) + 1.0) / COUNT(*), 6) AS DOUBLE) AS gini
        FROM ranked
        GROUP BY c_nationkey
        ORDER BY c_nationkey
        """
    )



def funnel_windowed_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel with a 7-DAY PER-TRANSITION
    WINDOW — the windowed semantics ``a22_funnel_conversion`` (its
    unbounded chained-window sibling) cannot express. Uses the
    reusable N-step operator (operators/funnel.py). Matching is
    greedy-earliest, so the DuckDB oracle replays it as a chain of
    min(ts) CTEs — a third independent formulation alongside a22's
    chained windows, proving the single-shuffle sorted-array fold
    equivalent to the min-ts-join reading.

    Scale shape: one per-user shuffle + one map-side-partial global
    aggregate; the fold runs in the JVM via the ``aggregate``
    higher-order function with O(1) state per user."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.funnel import funnel_summary

    return funnel_summary(
        spark.table("events"),
        ["view", "click", "purchase"],
        step_window="7 DAY",
    )


def trend_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time (slope per
    day, intercept, Pearson r) — the drift-direction profile a feed
    monitor wants (is this sensor's reading creeping up?).

    Engine-determinism posture: regr_slope/corr aggregates sum doubles
    in partition order, so their low decimals are not stable across
    engines or partitionings. Instead the five sufficient statistics
    are accumulated EXACTLY (bigint for x, DECIMAL for y — addition is
    order-independent), each exact sum is cast to DOUBLE once, and the
    closed-form slope/intercept/r arithmetic is the identical IEEE
    sequence in both engines. One shuffle (partial+final agg)."""
    register(spark, sf_dir, ("events",))
    # slope/intercept are exact rationals over the exact sufficient
    # statistics — round-half-up in integer arithmetic (tie class);
    # Pearson r divides by a sqrt (irrational) and stays a double.
    num_s = "(n * sxy - sx * sy)"
    num_i = "(sy * sxx - sx * sxy)"
    den = "(n * sxx - sx * sx)"
    slope = exact_mean_sparksql(num_s, den, sum_scale=6, out_scale=6)
    intercept = exact_mean_sparksql(num_i, den, sum_scale=6, out_scale=4)
    return spark.sql(
        f"""
        WITH pts AS (
            SELECT event_type,
                   CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) AS x,
                   CAST(value AS DECIMAL(18,6)) AS y
            FROM events
            WHERE value IS NOT NULL AND ts IS NOT NULL
        ), s AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   SUM(x) AS sx,
                   SUM(x * x) AS sxx,
                   SUM(y) AS sy,
                   SUM(x * y) AS sxy,
                   SUM(y * y) AS syy
            FROM pts GROUP BY event_type
        )
        SELECT event_type,
               n,
               CASE WHEN {den} = 0 THEN NULL ELSE {slope} END AS slope_per_day,
               CASE WHEN {den} = 0 THEN NULL ELSE {intercept} END AS intercept,
               CAST(round(CAST({num_s} AS DOUBLE)
                          / sqrt(CAST({den} AS DOUBLE)
                                 * CAST((n * syy - sy * sy) AS DOUBLE)), 6)
                    AS DOUBLE) AS r
        FROM s
        ORDER BY event_type
        """
    )


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution of the windowed funnel: among
    users who completed view → click → purchase (7-day per-transition
    windows), hours from funnel entry (first view) to completion —
    count, mean, p50, p95. Uses funnel_depth's entered_at/reached_at
    timestamps; exact-bigint microsecond durations keep the mean
    order-independent, and percentile/quantile_cont share the linear
    interpolation definition (same pairing as a13)."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.funnel import funnel_depth

    d = funnel_depth(
        spark.table("events"),
        ["view", "click", "purchase"],
        step_window="7 DAY",
    )
    conv = d.where(F.col("depth") == 3).select(
        (_epoch_us("reached_at") - _epoch_us("entered_at")).alias("us")
    )
    # percentile-interpolated µs: both engines share the interpolation
    # and the double (documented percentile exemption). round-ok: see above
    hours = lambda c: F.round(c / F.lit(3.6e9), 4).cast("double")  # noqa: E731
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        exact_div_round(
            F.sum("us"),
            F.count(F.lit(1)) * F.lit(3_600_000_000),
            out_scale=4,
        ).alias("avg_hours"),
        hours(F.expr("percentile(us, 0.5)")).alias("p50_hours"),
        hours(F.expr("percentile(us, 0.95)")).alias("p95_hours"),
    )


def w12_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each (from_type, to_type) adjacent pair in a user's time-ordered
    sequence, the transition count and row-normalized probability —
    the "what do users do next" profile (and, for a feed monitor, the
    structure drift baseline next to ``drift.py``'s value drift).

    Shape: ONE real shuffle (the per-user sequence window keyed on
    user_id; lead() is a linear scan within it). The pair aggregate is
    partial map-side, and the row-normalizing window + final sort
    operate on the |types|² ≤ tiny transition matrix. Determinism:
    (ts, event_id) orders ties totally, and p is the ratio of two exact
    bigints rounded half up in integer arithmetic
    (``exact_div_round_sql``), identical in both engines."""
    register(spark, sf_dir, ("events",))
    share = exact_div_round_sql(
        "count(*)", "sum(count(*)) OVER (PARTITION BY event_type)", out_scale=6
    )
    return spark.sql(
        f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        )
        SELECT event_type AS from_type,
               next_type AS to_type,
               count(*) AS n,
               {share} AS p
        FROM seq
        WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
        ORDER BY from_type, to_type
        """
    )


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents corpus (operators/profile.py):
    per column — rows, non-nulls, exact distincts, min/max as strings.
    The pre-load feed inspection the reference does ad hoc in pandas,
    as one Spark aggregate; exact COUNT(DISTINCT) here (driver-checked
    against per-column SQL aggregates), approx_count_distinct is the
    documented 100 TB switch."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.operators.profile import profile_columns

    return profile_columns(
        spark.table("documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured Heaps'-law vocabulary growth V(N) = K·N^β — the
    curve behind docs/SCALE.md's BPE saturation argument, as a
    registered query instead of prose. The scalable formulation:
    cumulative distinct words need NO running-set state — each word's
    FIRST-OCCURRENCE doc (one min() agg over the exploded corpus)
    places it on the growth curve, and a decile checkpoint grid
    (10 rows, broadcast) picks up cumulative vocabulary and token
    counts with two small range-condition aggregations. The Heaps
    exponent β and log-K come from a closed-form least-squares fit
    over the 10 (log N, log V) checkpoints — exact integer counts,
    then per-point logs rounded-and-DECIMAL-summed (the repo's float
    convention; raw-double fit sums flipped round(β, 4) between runs
    — caught by a vanilla-session verify pass). Returns the
    checkpoints plus the fitted (beta, log10_k) on every row for a
    one-frame result. On the synthetic test corpus the 31-word
    vocabulary saturates inside the first decile, so β = 0 exactly —
    the degenerate-saturation end of the Heaps curve, measured, not
    a bug; real crawls land β ≈ 0.4–0.6."""
    register(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    first_seen = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    # checkpoint grid: the 10 decile doc ids (exact, tiny, broadcast)
    grid = docs.agg(
        *[
            F.floor(F.expr(f"percentile(doc_id, {i / 10.0})")).cast("long").alias(f"d{i}")
            for i in range(1, 11)
        ]
    ).select(
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("decile"), F.col(f"d{i}").alias("cutoff")) for i in range(1, 11)])
        ).alias("g")
    ).select("g.decile", "g.cutoff")
    vocab = (
        grid.join(first_seen, first_seen["first_doc"] <= grid["cutoff"])
        .groupBy("decile", "cutoff")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    toks = (
        grid.join(doc_tokens, doc_tokens["doc_id"] <= grid["cutoff"])
        .groupBy(grid["decile"].alias("decile"))
        .agg(F.sum("n_tok").alias("tokens"))
    )
    # per-point logs rounded then DECIMAL — the repo's float-sum
    # convention: the fit sums must be EXACT so partition order can't
    # flip the final 4-decimal rounding (caught by a vanilla-session
    # verify run: raw-double sums differed between runs in the last
    # bit, flipping round(beta, 4) at a boundary)
    pts = vocab.join(toks, "decile").select(
        "decile",
        "cutoff",
        "tokens",
        "vocab",
        # 6-dp logs as scaled BIGINTs (×10⁶): every downstream sum and
        # cross-product is exact integer arithmetic
        F.round(F.log10("tokens") * 1e6, 0).cast("long").alias("_x"),
        F.round(F.log10("vocab") * 1e6, 0).cast("long").alias("_y"),
    )
    # closed-form least squares over the 10 checkpoints (1-row agg);
    # the slope / intercept rationals are rounded half-up in INTEGER
    # arithmetic — round(double, 4) of an exact rational is the
    # cross-engine tie class (PARITY_SF01.md). The ×10⁻¹² unit carried
    # by the scaled sums cancels between numerator and denominator for
    # β; the intercept numerator carries one extra ×10⁻⁶.
    _d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    _num_b = _d(F.col("_n")) * _d(F.col("_sxy")) - _d(F.col("_sx")) * _d(
        F.col("_sy")
    )
    _num_i = _d(F.col("_sy")) * _d(F.col("_sxx")) - _d(F.col("_sx")) * _d(
        F.col("_sxy")
    )
    _den = _d(F.col("_n")) * _d(F.col("_sxx")) - _d(F.col("_sx")) * _d(
        F.col("_sx")
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    ).select(
        exact_div_round(_num_b, _den, out_scale=4).alias("beta"),
        exact_div_round(
            _num_i, _den * F.lit(10 ** 6).cast("decimal(20,0)"), out_scale=4
        ).alias("log10_k"),
    )
    return (
        pts.select("decile", "cutoff", "tokens", "vocab")
        .crossJoin(F.broadcast(fit))
        .orderBy("decile")
    )


def o15_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations — the bag-semantics siblings of
    o5/o9/o11's DISTINCT set ops: ``exceptAll`` keeps surplus
    duplicate counts (1997's excess shipments per ship mode over
    1998's, occurrence for occurrence) and ``intersectAll`` keeps
    matched duplicate counts (min of the two years' multiplicities).
    Both are one-pass hash aggregations in Spark (count per value on
    each side, arithmetic on the counts) — no row-pairing join. Both
    results tagged into one frame."""
    register(spark, sf_dir, ("lineitem",))
    li = spark.table("lineitem")
    y97 = li.filter(F.year("l_shipdate") == 1997).select("l_returnflag")
    y98 = li.filter(F.year("l_shipdate") == 1998).select("l_returnflag")
    exc = (
        y97.exceptAll(y98)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("op", F.lit("except_all"))
    )
    inter = (
        y97.intersectAll(y98)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("op", F.lit("intersect_all"))
    )
    return exc.unionByName(inter).select("op", "l_returnflag", "n_rows").orderBy(
        "op", "l_returnflag"
    )


def embed_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation recall audit
    (llm/similarity.py::truncated_recall): per query, recall@5 of
    first-16-dims cosine search against full-64-dims search — the
    number that prices a dims/D index-size cut on this corpus before
    committing to it. Both rankings exact and deterministically
    tie-broken, so the oracle replays them and the recall exactly."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import truncated_recall

    emb = spark.table("embeddings")
    return truncated_recall(
        emb, emb.filter(F.col("vec_id") < 10), dims=16, k=5, dim=64
    ).orderBy("query_id")


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    SIGIR'09 — the standard fusion in production RAG stacks): the
    lexical leg is BM25 top-20 for a literal query (llm/search.py),
    the dense leg is exact-cosine top-20 for a probe embedding
    (llm/similarity.py::brute_force_topk — swap in the IVF/SRP probes
    at scale without touching the fusion), and documents are fused by
    RRF(d) = Σ_legs 1/(60 + rank_leg(d)), absent-from-a-leg
    contributing 0. Both legs are independent rankings the engine
    already oracle-checks; this query proves the COMPOSITION — one
    full-outer join of two k-row lists, a map-side score, top-10.
    The doc_id↔vec_id alignment in the test corpus stands in for a
    real store's document-embedding foreign key."""
    register(spark, sf_dir, ("documents", "embeddings"))
    from pipelines_spark.llm.search import bm25_topk
    from pipelines_spark.llm.similarity import brute_force_topk

    lex = bm25_topk(
        spark.table("documents"), ("hash", "join", "window"), k=20
    ).select("doc_id", F.col("rank").cast("long").alias("r_lex"))
    emb = spark.table("embeddings")
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20, dim=64
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("r_dense"),
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_dense",
        # exact-rational RRF: both-legs = (120+rl+rd)/((60+rl)(60+rd)),
        # one leg = 1/(60+r) — round(double, 6) ties structurally at
        # e.g. rank 68 (10^6/128 = 7812.5)
        F.when(
            F.col("r_lex").isNotNull() & F.col("r_dense").isNotNull(),
            exact_div_round(
                F.lit(120) + F.col("r_lex") + F.col("r_dense"),
                (F.lit(60) + F.col("r_lex")) * (F.lit(60) + F.col("r_dense")),
                out_scale=6,
            ),
        )
        .otherwise(
            exact_div_round(
                F.lit(1),
                F.lit(60) + F.coalesce(F.col("r_lex"), F.col("r_dense")),
                out_scale=6,
            )
        )
        .alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks, CL
    1990) over corpus whitespace bigrams — the phrase-mining pass a
    tokenizer/vocab pipeline runs before merging multi-word units:
    PMI(a,b) = log2(P(ab) / (P(a)·P(b))) from EXACT bigram/unigram
    counts, min bigram count 5, top 30 by (pmi DESC, bigram ASC).
    Plan: one bigram explode+count, one unigram explode+count, two
    key-equi joins + two 1-row total broadcasts — all
    partial-aggregated, no window, no cross pair stage (the bigram
    relation is adjacency-bounded, |tokens| rows, unlike the
    quadratic co-occurrence shapes)."""
    register(spark, sf_dir, ("documents",))
    words = spark.table("documents").select(
        F.split("text", " ").alias("w")
    )
    uni = words.select(F.explode("w").alias("t"))
    ucnt = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    utot = uni.agg(F.count(F.lit(1)).alias("na"))
    bg = words.filter(F.size("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("w1"),
                    F.element_at("w", i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bcnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pairs"))
    btot = bg.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        bcnt.filter(F.col("n_pairs") >= 5)
        .join(ucnt.withColumnsRenamed({"t": "w1", "c": "_ca"}), "w1")
        .join(ucnt.withColumnsRenamed({"t": "w2", "c": "_cb"}), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "n_pairs",
            F.round(
                F.log2(
                    (F.col("n_pairs").cast("double") * F.col("na") * F.col("na"))
                    / (F.col("n").cast("double") * F.col("_ca") * F.col("_cb"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(30)


def a41_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-priced join planning: estimate |events ⋈ orders ON
    user_id = o_custkey| from two count-min sketches of the key
    columns (operators/sketches.py::cms_join_size — the CMS
    inner-product estimator, AMS lineage) and report it against the
    exact join cardinality (Σ_k n_events(k)·n_orders(k), computed
    from the two per-key count aggregates, never the join itself).
    The 100 TB posture: each sketch is one bounded-state pass
    (depth × width shuffle keys), the inner product joins two
    ≤ 4096-row tables — the cost of pricing the join is independent
    of both inputs' sizes. The estimate can only overcount; rel_err
    quantifies the collision surplus at this width."""
    register(spark, sf_dir, ("events", "orders"))
    from pipelines_spark.operators.sketches import cms_join_size, cms_table

    ev = spark.table("events")
    o = spark.table("orders")
    est = cms_join_size(
        cms_table(ev, "user_id"), cms_table(o, "o_custkey")
    )
    na = ev.filter(F.col("user_id").isNotNull()).groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count(F.lit(1)).alias("_na"))
    nb = o.filter(F.col("o_custkey").isNotNull()).groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("_nb"))
    exact = na.join(nb, "k").agg(
        F.sum(F.col("_na") * F.col("_nb")).cast("long").alias("exact_join_size")
    )
    return est.crossJoin(exact).select(
        "est_join_size",
        "exact_join_size",
        # exact integer-arithmetic relative error (tie class at 4 dp)
        exact_div_round(
            F.col("est_join_size") - F.col("exact_join_size"),
            F.col("exact_join_size"),
            out_scale=4,
        ).alias("rel_err"),
    )


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs via PREFIX FILTERING
    (llm/dedup.py::prefix_filter_jaccard_pairs, the PPJoin family) —
    the lossless sub-quadratic candidate strategy: index only each
    doc's ⌊(1−t)·n⌋+1 globally-RAREST shingles (hot boilerplate
    shingles drop out of candidate generation by the pigeonhole
    guarantee, not a recall-losing cap), length-filter inside the
    join, verify exactly. Same oracle as dedup_minhash_lsh /
    dedup_ngram_jaccard: three different candidate engines, one exact
    answer."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        spark.table("documents"), id_col="doc_id", text_col="text", threshold=0.5
    ).orderBy("id_a", "id_b")


def profile_documents_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profiler's 100 TB posture, made EXACT-REPLAY driver-checkable:
    distinct counts from the repo's own cross-engine md5 HLL registers
    (operators/profile.py::profile_columns_hll composed over
    operators/sketches.py::hll_distinct_by) instead of
    approx_count_distinct — every register is a pure function of the
    value set, so the DuckDB oracle reproduces the ESTIMATES
    bit-for-bit, not just row counts. No COUNT DISTINCT Expand
    anywhere; register state is columns × 2^b per partition (the
    no-Expand plan is pinned in tests/test_operators.py)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.operators.profile import profile_columns_hll

    return profile_columns_hll(
        spark.table("documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).orderBy("col_name")


def graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities of the customer↔supplier trade
    graph (operators/graph.py::label_propagation): densely-linked
    trading groups — the community question pagerank (centrality) and
    connected components (reachability) don't answer. Two
    synchronous rounds — not more, because the trade graph is
    dense/small-world and every extra sync round collapses it
    further (measured at sf0.01: 32 -> 7 -> 2 communities for 1/2/3
    rounds), so two rounds is where the result still discriminates —
    with deterministic tie-breaks (count DESC,
    label ASC), so the oracle replays the rounds as unrolled CTEs
    and matches exactly; reported as the 15 largest communities.
    Each
    round is one edge join + one (node,label) count + one per-node
    argmax window, all keyed on node ids — O(|E|) shuffle per round,
    O(1) state per node."""
    register(spark, sf_dir, ("lineitem", "orders"))
    from pipelines_spark.operators.graph import label_propagation

    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    bi = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = label_propagation(bi, iterations=2, assume_distinct=True)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(15)
    )


def embed_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN GRAPH over the whole embeddings corpus
    (llm/similarity.py::knn_graph): each vector's top-3 neighbors
    among the vectors sharing its IVF cell — the edge-list primitive
    embedding clustering and SemDeDup-style pruning build on. Unlike
    the query-path ANN entries (query side broadcast), BOTH join
    sides are corpus-scale: one map-only Arrow-batched cell
    assignment, one equi-join on cell id (statistics pick SMJ at
    corpus scale, broadcast at test scale; expected pair volume
    n²/C), one per-src top-k window. Deterministic
    end-to-end (hash-sampled centroids, rounded cosines, dst-asc
    ties), so the DuckDB oracle replays the same cells and edges
    exactly."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import knn_graph

    emb = spark.table("embeddings").select("vec_id", "embedding")
    return knn_graph(emb, k=3, n_centroids=16, dim=64)


def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (llm/sampling.py::cap_per_source, the
    RefinedWeb "no domain dominates" discipline, also a
    curate_corpus stage via max_per_source): keep the 40
    highest-quality docs per source (quality DESC, doc_id ASC ties —
    a pure function of the data), report per source the total/kept/
    dropped counts, the mean kept quality (exact DECIMAL sum, so
    order-independent), and the quality cutoff (min kept). One
    window shuffle on source (WindowGroupLimit bounds each map
    partition to 40 candidates per source); the per-source totals
    aggregate broadcasts back."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import cap_per_source
    from pipelines_spark.llm.text import quality_score

    docs = spark.table("documents").select(
        "doc_id", "source", quality_score("text").alias("quality")
    )
    kept = cap_per_source(
        docs, source_col="source", id_col="doc_id", order_col="quality", n_max=40
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            # engine-exact 4-dp mean: quality is a 4-decimal value, so
            # the mean is the exact rational S4/n in 1e-4 units,
            # rounded half-up via integer floor((2*S4+n)/(2*n)) — the
            # double-division-then-round formulation ties at *.5e-4
            # boundaries where Spark (BigDecimal HALF_UP on the exact
            # binary) and DuckDB (scaled multiply) disagree; first
            # observed at sf0.1 (docs/PARITY_SF01.md)
            (
                F.floor(
                    (
                        F.lit(2)
                        * (
                            F.sum(F.col("quality").cast("decimal(14,4)"))
                            * 10000
                        ).cast("long")
                        + F.count(F.lit(1))
                    )
                    / (F.lit(2) * F.count(F.lit(1)))
                )
                / F.lit(10000.0)
            ).alias("avg_kept_quality"),
            F.min("quality").alias("quality_cutoff"),
        )
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "n_total",
            "n_kept",
            (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
            "avg_kept_quality",
            "quality_cutoff",
        )
        .orderBy("source")
    )


def j19_bloom_semi_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join (operators/sketches.py::
    bloom_bitmap / bloom_prefilter): revenue of lineitems belonging
    to URGENT orders. The bitmap is ≤ m/64 (slot, word) rows — fixed
    size no matter how many urgent orders exist — so it broadcasts
    where the key set itself never could; it prunes lineitem
    MAP-SIDE before the exact semi-join. That is the classic
    distributed semi-join reduction: at 100 TB the exact join's
    shuffle moves only Bloom survivors (true matches + the small
    false-positive rate) instead of the whole probe table. False
    positives are removed by the exact semi-join that follows, so
    the result is EXACTLY the plain semi-join — which is what the
    oracle runs."""
    register(spark, sf_dir, ("lineitem", "orders"))
    from pipelines_spark.operators.sketches import bloom_bitmap, bloom_prefilter

    urgent = (
        spark.table("orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bm = bloom_bitmap(urgent, "o_orderkey", m_bits=1 << 17, k=3)
    li = spark.table("lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    pre = bloom_prefilter(li, "l_orderkey", bm, m_bits=1 << 17, k=3)
    exact = pre.join(
        urgent.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "semi"
    )
    return (
        exact.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
            .alias("revenue"),
        )
        .orderBy("returnflag")
    )


def a39_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over daily value totals per event type —
    the sequential recursion s_i = max(0, s_{i-1} + d_i) rewritten
    with the prefix identity s_i = p_i − min(0, min_{j≤i} p_j)
    (p = running sum of deviations), so the whole detector is TWO
    window passes (running sum + running min) over one per-key
    ordering — no iterative loop, no fold, O(1) per row, one shuffle
    on the key. Both directions run in the same window (upward: d =
    y − target; downward: d = target − y). All state is DECIMAL-exact
    (daily sums, deviations, prefixes), so the alert counts and maxima
    are partitioning- and engine-exact; target = per-type mean daily
    total, alert threshold h = target / 2 (deterministic, no
    stddev float-order hazard)."""
    register(spark, sf_dir, ("events",))
    daily = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(exact_sum("value").alias("y"))
    )
    target = daily.groupBy("event_type").agg(
        exact_mean(F.sum("y"), F.count(F.lit(1)), sum_scale=6, out_scale=6)
        .cast("decimal(18,6)")
        .alias("target")
    )
    j = daily.join(F.broadcast(target), "event_type")
    run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d_up = (F.col("y") - F.col("target")).cast("decimal(18,6)")
    p_up = F.sum(d_up).over(run)
    s_up = p_up - F.least(F.min(p_up).over(run), F.lit(0).cast("decimal(18,6)"))
    # downward deviations are the negation; its prefix is -p_up
    p_dn = -p_up
    s_dn = p_dn - F.least(F.min(p_dn).over(run), F.lit(0).cast("decimal(18,6)"))
    scored = j.select(
        "event_type",
        (F.col("target") / 2).alias("h"),
        s_up.alias("s_up"),
        s_dn.alias("s_dn"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(F.col("s_up") > F.col("h"), 1).otherwise(0)).alias(
                "n_alerts_up"
            ),
            F.sum(F.when(F.col("s_dn") > F.col("h"), 1).otherwise(0)).alias(
                "n_alerts_down"
            ),
            # round the exact DECIMAL(18,6) maxima (tie class at 4 dp)
            F.round(F.max("s_up"), 4).cast("double").alias("max_cusum_up"),
            F.round(F.max("s_dn"), 4).cast("double").alias("max_cusum_down"),
        )
        .orderBy("event_type")
    )


def trend_theilsen_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: median of all pairwise
    slopes over the DAILY AGGREGATED series — the robust twin of
    ``trend_by_event_type``'s least-squares fit (outlier days bend
    OLS; the pairwise-slope median has a 29% breakdown point). The
    pair explosion is quadratic in DAYS PER TYPE, not in events: the
    daily aggregate shrinks the corpus to |types|·|days| rows FIRST,
    so the self-join is bounded by the calendar (~67k pairs per
    type-year) regardless of corpus size. Slopes are identical IEEE
    divisions in both engines; median = exact interpolated
    percentile (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
    a13 convention); intercept = median residual at that slope."""
    register(spark, sf_dir, ("events",))
    daily = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            exact_sum("value").cast("double").alias("y")
        )
    )
    seq = daily.withColumn(
        "x",
        F.datediff(
            F.col("day"), F.min("day").over(Window.partitionBy("event_type"))
        ),
    ).select("event_type", "x", "y")
    a = seq.alias("a")
    b = seq.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias(
            "slope"
        ),
    )
    sl = slopes.groupBy("event_type").agg(
        F.percentile("slope", F.lit(0.5)).alias("slope")
    )
    resid = seq.join(F.broadcast(sl), "event_type").select(
        "event_type",
        "slope",
        (F.col("y") - F.col("slope") * F.col("x")).alias("r"),
    )
    return (
        resid.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.max("slope"), 6).alias("theil_slope"),
            F.round(F.percentile("r", F.lit(0.5)), 4).alias("theil_intercept"),
        )
        .orderBy("event_type")
    )


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity contributions of the LPA communities on the
    customer↔supplier trade graph (operators/graph.py::
    community_modularity composed with label_propagation) — the
    quality metric for `graph_communities`' labeling: positive
    contribution = denser inside than a degree-preserving random
    graph. Every term is an exact integer count (bi-edges inside the
    community, degree sums, total edges) until the one final
    division, so both engines agree exactly. Two node-keyed label
    joins + one per-community agg + a 1-row total broadcast; the
    bi-directional edge list is staged ONCE and shared by the LPA
    loop and the modularity pass (without it the join/distinct
    lineage recomputes on both sides).

    NOTE for real pipelines: this registered query re-derives the
    labeling so it is self-contained for the benchmark; if you have
    already computed `graph_communities`' labels, call
    ``community_modularity(bi_edges, labels)`` directly on the
    persisted labeling instead of re-running LPA."""
    register(spark, sf_dir, ("lineitem", "orders"))
    from pipelines_spark.operators.graph import (
        community_modularity,
        label_propagation,
    )
    from pipelines_spark.plans.staging import stage

    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    bi = stage(
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = label_propagation(bi, iterations=2, assume_distinct=True)
    return (
        community_modularity(bi, labels)
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(15)
    )


def a40_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of event values — the
    scalable replacement for a global ``ntile``: ntile's single
    unpartitioned window would funnel 100 TB through one reducer;
    here the 9 decile boundaries come from ONE exact-percentile
    aggregate (partial+final, ordinary agg parallelism), broadcast
    back, and every row buckets MAP-SIDE by counting boundaries ≤
    value with a JVM array filter. Complements a16's equal-WIDTH
    histogram. Boundaries are exact interpolated percentiles (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``), so the bucket edges —
    and every tie comparison against them — are engine-identical."""
    register(spark, sf_dir, ("events",))
    ev = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select("value")
    )
    bnds = ev.agg(
        F.percentile(
            "value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("bnds")
    )
    x = ev.crossJoin(F.broadcast(bnds)).select(
        "value",
        F.size(
            F.filter(F.col("bnds"), lambda t: t <= F.col("value"))
        ).alias("bucket"),
    )
    return (
        x.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


def embed_knn_graph_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN graph's AT-SCALE configuration: ``max_cell_rows`` caps
    the neighbor side of every IVF cell by the deterministic
    (md5(id), id) ranking, bounding a skewed cell at O(cell · cap)
    instead of O(cell²) — the same hard-checked-capped-mode
    discipline as dedup_ngram_capped/dedup_containment_capped (the
    config you'd run at 100 TB needs its own driver row, not just a
    unit test). The oracle replays the cap exactly."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import knn_graph

    emb = spark.table("embeddings").select("vec_id", "embedding")
    return knn_graph(emb, k=3, n_centroids=16, max_cell_rows=20, dim=64)


from pipelines_spark.llm.curation import BENCH_CONFIG as _CURATION_CONFIG


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-corpus flagship: the END-TO-END
    ``llm/curation.py::curate_corpus`` chain a real pretraining-data
    run executes, as one driver-checkable query — map-only
    quality/lang/length gates, the RefinedWeb per-source cap, exact
    dedup, MinHash-LSH near-dup clustering with best-quality
    canonical selection, deterministic split assignment, and greedy
    token-shard packing. Every stage has its own oracle-checked query
    (text_quality_by_source, sample_source_cap, dedup_exact,
    dedup_minhash_lsh, dedup_clusters, sample_split_counts,
    sample_token_shards); this one proves the COMPOSITION — each
    stage replayed on the previous stage's survivors, not on the raw
    corpus. Returns one row per kept document with its full
    provenance (quality, detected language, token count, near-dup
    component, split, shard). Reference analog: the composed
    capture→pretreat→load flows
    (/root/reference/pipelines/rj_smtr/flows.py:46-194), which are
    the reference's actual product; here the product is the curated
    corpus. Lazy path (collect_stats=False): no explicit persists, no
    driver-side counts — stage boundaries are LAZY localCheckpoints
    (plans/staging.py) that materialize each multi-consumer stage
    once and truncate lineage. Caveat that buys: checkpoint blocks
    are executor-local and not recomputable on executor loss — the
    single-node / short-job posture; long preemptible cluster runs
    should use the durable ``staging="checkpoint"`` mode."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.curation import CurationConfig, curate_corpus

    docs = spark.table("documents").select("doc_id", "text", "source")
    curated, _ = curate_corpus(
        docs, CurationConfig(**_CURATION_CONFIG), collect_stats=False
    )
    return curated.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "quality",
        "detected_lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("component_id").cast("long").alias("component_id"),
        "split",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("shard_no").cast("long").alias("shard_no"),
    ).orderBy("doc_id")


def curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation cascade with EVERY optional stage on — the CCNet
    LM-entropy gate (bigram cross-entropy trained on the
    post-exact-dedup corpus, CCNet order: dedup before the LM so
    boilerplate can't dominate the model it is judged by) and the
    Lee-et-al span-dedup gate run between exact dedup and LSH
    clustering. Same per-doc provenance output as curation_pipeline;
    the oracle replays the full seven-stage cascade with each gate on
    its predecessor's survivors (config: llm/curation.py::
    BENCH_CONFIG_FULL, thresholds chosen to BITE on this corpus)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.curation import (
        BENCH_CONFIG_FULL,
        CurationConfig,
        curate_corpus,
    )

    docs = spark.table("documents").select("doc_id", "text", "source")
    curated, _ = curate_corpus(
        docs, CurationConfig(**BENCH_CONFIG_FULL), collect_stats=False
    )
    return curated.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "quality",
        "detected_lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("component_id").cast("long").alias("component_id"),
        "split",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("shard_no").cast("long").alias("shard_no"),
    ).orderBy("doc_id")


def curation_funnel_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage funnel counts of the FULL-gate cascade — seven
    stages including lm_entropy_gate and dup_span_gate (config shared
    with curation_pipeline_full via BENCH_CONFIG_FULL)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.curation import (
        BENCH_CONFIG_FULL,
        CurationConfig,
        curate_corpus,
    )

    docs = spark.table("documents").select("doc_id", "text", "source")
    _, stats = curate_corpus(
        docs, CurationConfig(**BENCH_CONFIG_FULL), collect_stats=True
    )
    return stats.orderBy("stage")


def curation_pipeline_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation cascade with every optional stage on PLUS the
    hashed-feature linear-classifier gate (llm/text.py::
    linear_classifier_score — the RedPajama/CCNet "quality
    classifier" slot, run map-only as stage 1b before any shuffle
    touches the corpus). Eight stages: gates → classifier → source
    cap → exact dedup → LM-entropy gate → span-dedup gate → LSH
    canonical → split/shard. Same per-doc provenance output as
    curation_pipeline; config llm/curation.py::BENCH_CONFIG_SCORED
    (threshold 0.54, chosen to bite), oracle replays all eight stages
    each on its predecessor's survivors."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.curation import (
        BENCH_CONFIG_SCORED,
        CurationConfig,
        curate_corpus,
    )

    docs = spark.table("documents").select("doc_id", "text", "source")
    curated, _ = curate_corpus(
        docs, CurationConfig(**BENCH_CONFIG_SCORED), collect_stats=False
    )
    return curated.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "quality",
        "detected_lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("component_id").cast("long").alias("component_id"),
        "split",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("shard_no").cast("long").alias("shard_no"),
    ).orderBy("doc_id")


def curation_funnel_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage funnel counts of the SCORED cascade — eight stages
    including classifier_gate (config shared with
    curation_pipeline_scored via BENCH_CONFIG_SCORED)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.curation import (
        BENCH_CONFIG_SCORED,
        CurationConfig,
        curate_corpus,
    )

    docs = spark.table("documents").select("doc_id", "text", "source")
    _, stats = curate_corpus(
        docs, CurationConfig(**BENCH_CONFIG_SCORED), collect_stats=True
    )
    return stats.orderBy("stage")


def embed_srp_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the SRP-bucketed ANN against brute force,
    per query — the companion audit to embed_truncated_recall: that
    one prices a DIMENSION cut, this one prices the BUCKETING
    approximation itself, on the actual corpus (the number an ANN
    rollout decision needs, not the paper's). Composes the two
    already-checked legs (brute_force_topk ∧ srp_bucketed_topk, same
    configs as embed_knn_topk / embed_srp_ann) and joins their top-5
    lists; per query: ANN candidate count, hits, recall. Queries in
    empty buckets score 0 instead of disappearing (left join)."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import srp_bucketed_topk

    emb = spark.table("embeddings")
    qs = emb.filter(F.col("vec_id") < 50)
    exact = brute_force_topk(
        emb, qs, id_col="vec_id", vec_col="embedding", k=5, dim=64
    ).select("query_id", "neighbor_id")
    ann = srp_bucketed_topk(
        emb, qs, id_col="vec_id", vec_col="embedding", k=5, n_planes=8
    ).select("query_id", "neighbor_id")
    n_ann = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    hits = (
        exact.join(
            ann.withColumn("_hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits"))
    )
    return (
        hits.join(F.broadcast(n_ann), "query_id", "left")
        .na.fill({"n_ann": 0})
        .select(
            "query_id",
            "n_ann",
            "hits",
            # exact integer-arithmetic recall ratio (tie class)
            exact_div_round(F.col("hits"), F.lit(5), out_scale=4).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


def embed_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-direction audit of the embedding corpus by EIGHT
    unrolled power-iteration rounds over the exactly-aggregated
    covariance matrix — PCA without MLlib, as pure DataFrame algebra:
    the 64×64 covariance is one map-side outer-product aggregate with
    rounded-DECIMAL sums (partition-order-exact, the repo's float
    convention, applied at every matvec/normalize step so both
    engines walk the identical float path); each iteration is a
    4096×64 join on ≤4096-row frames. Semantics are the HONEST ones
    for a fixed unroll: the Rayleigh quotient is a LOWER BOUND on
    λ_max that power iteration improves monotonically, so var_share
    is a lower bound on the top-direction share — a LARGE value
    proves the space has collapsed onto one direction (and collapse
    ⇒ a big spectral gap ⇒ fast convergence, so collapse can't
    hide), while a small value means no dominant direction. On this
    deliberately near-isotropic corpus 8 rounds reach ~95 % of
    λ_max (pinned against numpy's eigh in tests). Deterministic
    generic start; the oracle replays the identical rounds."""
    register(spark, sf_dir, ("embeddings",))
    e_arr = spark.table("embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double"), 8).cast("decimal(18,8)"),
        ).alias("xa"),
    )
    # cast the DECIMAL sum to double BEFORE dividing: decimal/long
    # division rounds at an engine-specific intermediate scale, which
    # a round-8 pipeline (unlike the round-4 aggregates elsewhere)
    # would expose
    means_row = (
        e_arr.select(F.posexplode("xa").alias("d", "x"))
        .groupBy("d")
        .agg(
            exact_mean(
                F.sum("x"), F.count(F.lit(1)), sum_scale=8, out_scale=8
            ).alias("mu")
        )
        .agg(F.array_sort(F.collect_list(F.struct("d", "mu"))).alias("ms"))
        .select(F.transform("ms", lambda s: s["mu"]).alias("mu_arr"))
    )
    # centering + the 64×64 outer product happen MAP-SIDE as array
    # HOFs (zip_with + nested transform): the 20M-at-sf0.1 product
    # rows are born inside the partial aggregate and never shuffle —
    # the per-vec_id join formulation moved them all
    centered = e_arr.crossJoin(F.broadcast(means_row)).select(
        "vec_id",
        F.zip_with(
            "xa",
            "mu_arr",
            # round-ok: 8-dp decimal minus 8-dp exact mean — identity at 8
        lambda x, m: F.round(x.cast("double") - m, 8),
        ).alias("xc"),
    )
    # the 64×64 outer product via TWO chained posexplodes of the same
    # centered array — fully codegen'd Generate+Project (a nested
    # transform-to-struct HOF computes the identical rows ~3× slower:
    # higher-order lambdas evaluate interpreted per element, the
    # minhash lesson); products are still born map-side inside the
    # partial aggregate and never shuffle
    import math

    cov = (
        centered.select("xc", F.posexplode("xc").alias("i", "x"))
        .select("i", "x", F.posexplode("xc").alias("j", "y"))
        .select(
            "i",
            "j",
            F.round(F.col("x") * F.col("y"), 8)
            .cast("decimal(28,8)")
            .alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.round(F.sum("p").cast("double"), 8).alias("c"))
    )
    # r12 (guide §5 "the driver should do almost no data work" — and
    # this is none): the covariance is O(dim²) = 4096 rows REGARDLESS
    # of corpus size, i.e. fixed-k driver state by construction (the
    # kmeans_train discipline). The previous formulation kept the 8
    # matvec/normalize rounds as nested 64-row joins + broadcasts:
    # zero cluster work, but EVERY lazy checkpoint and the final
    # action re-planned the growing tree — 4-11 s of pure driver
    # analysis per build (measured; the executed action itself was
    # 0.3 s). The rounds now run on the collected covariance with the
    # ENGINE'S arithmetic replicated exactly, term by term:
    # - round(x, 8)  → Decimal(x) [exact binary] quantized at 1e-8
    #   ROUND_HALF_UP (Spark's BigDecimal HALF_UP on the double's
    #   exact expansion; Python floats ARE IEEE doubles);
    # - cast(decimal) sums → exact Decimal sums (order-free);
    # - cast(double)  → float(Decimal) (correctly rounded, same as
    #   BigDecimal.doubleValue);
    # - sqrt/divide   → IEEE-correct in both runtimes.
    # Values are therefore bit-identical to the joined form, and the
    # DuckDB oracle (which replays the same rounds in SQL) stays
    # hash-exact — verified at sf0.01 and sf0.1.
    from decimal import ROUND_HALF_UP, Decimal

    _q8 = Decimal("1e-8")

    def _dec(x: float) -> Decimal:
        # Spark's round(double, d) and cast(double AS DECIMAL) both go
        # through BigDecimal.valueOf = Double.toString — the SHORTEST
        # round-trip decimal, not the exact binary expansion. Python's
        # repr is the same shortest string, so Decimal(repr(x)) is the
        # engine's BigDecimal bit-for-bit; Decimal(x) (exact binary)
        # diverges exactly ON half-way values (caught at sf0.01: one
        # loading read 0.313837 vs the engines' 0.313838 because the
        # double sits a hair below 0.3138375 while its shortest repr
        # IS 0.3138375).
        return Decimal(repr(x))

    def _r8(x: float) -> float:
        return float(_dec(x).quantize(_q8, rounding=ROUND_HALF_UP))

    cov_rows = cov.collect()  # 4096 (i, j, c) rows — one job
    c_mat: dict[tuple[int, int], float] = {
        (row["i"], row["j"]): row["c"] for row in cov_rows
    }
    dim_n = 64
    vec = [0.12345678] * dim_n  # the generic tie-free start (v0)

    def matvec(vcur: list[float]) -> list[float]:
        out = []
        for i in range(dim_n):
            s = Decimal(0)
            for j in range(dim_n):
                c = c_mat.get((i, j))
                if c is not None:
                    # round(c*v, 8) then DECIMAL(18,8) sum — exact
                    s += _dec(c * vcur[j]).quantize(
                        _q8, rounding=ROUND_HALF_UP
                    )
            out.append(_r8(float(s)))
        return out

    for _ in range(8):
        w = matvec(vec)
        ssum = Decimal(0)
        for wi in w:
            ssum += _dec(wi * wi).quantize(_q8, rounding=ROUND_HALF_UP)
        nrm = math.sqrt(float(ssum))
        vec = [_r8(wi / nrm) for wi in w]
    w4 = matvec(vec)
    lsum = Decimal(0)
    for vi, wi in zip(vec, w4):
        lsum += _dec(vi * wi).quantize(_q8, rounding=ROUND_HALF_UP)
    eigenvalue = _r8(float(lsum))
    tsum = Decimal(0)
    for d in range(dim_n):
        c = c_mat.get((d, d))
        if c is not None:
            # cast(c AS DECIMAL(18,8)) is exact round-half-up at 8 dp
            tsum += _dec(c).quantize(_q8, rounding=ROUND_HALF_UP)
    trace = _r8(float(tsum))
    _q6 = Decimal("1e-6")
    var_share = float(
        _dec(eigenvalue / trace).quantize(_q6, rounding=ROUND_HALF_UP)
    )
    out_rows = [
        (
            d,
            float(_dec(vec[d]).quantize(_q6, rounding=ROUND_HALF_UP)),
            eigenvalue,
            var_share,
        )
        for d in range(dim_n)
    ]
    return spark.createDataFrame(
        out_rows, "dim int, loading double, eigenvalue double, var_share double"
    ).orderBy("dim")


#: stopword delimiter for RAKE phrase extraction — the en stopword
#: list as a boundary regex; identical literal in the oracle
_RAKE_SW = r"\b(?:the|a|of|and|to|in|is|that|for|on)\b"


def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs; each word scores
    degree/frequency (degree = Σ phrase length over its occurrences —
    words that live in long phrases outrank words that appear alone);
    a phrase scores the sum of its member word scores. The classic
    no-model keyphrase extractor — corpus-level, two aggregates and
    one join on the word key, everything else map-side regex. Top 20
    phrases, deterministic ties."""
    register(spark, sf_dir, ("documents",))
    phrases = (
        spark.table("documents")
        .select(F.explode(F.split("text", _RAKE_SW)).alias("p"))
        .select(F.trim(F.regexp_replace("p", " +", " ")).alias("phrase"))
        .filter(F.length("phrase") > 0)
    )
    occ = phrases.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    inst_words = phrases.select(
        F.explode(F.split("phrase", " ")).alias("w"),
        F.size(F.split("phrase", " ")).alias("plen"),
    )
    wstats = inst_words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
    )
    pw = occ.select(
        "phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        pw.join(wstats, "w")
        .groupBy("phrase", "n_occ")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                # exact integer-arithmetic round of the degree/freq
                # rational (tie class at 8 dp)
                exact_div_round(F.col("degree"), F.col("freq"), out_scale=8)
                .cast("decimal(18,8)")
            ).alias("s"),
        )
    )
    return (
        scored.select(
            "phrase",
            "n_words",
            F.col("n_occ").alias("n_occurrences"),
            F.round(F.col("s"), 4).cast("double").alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(20)
    )


def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): variance-to-mean ratio of
    per-document counts over ALL docs (zeros included — computed in
    closed form from integer sufficient statistics, never by
    densifying). VMR ≈ 1 is Poisson scatter (function-word behavior);
    VMR ≫ 1 marks content terms that clump into few documents — the
    term-weighting/stopword-detection signal TF alone can't give.
    Exact integers until one final division; terms with ≥ 50
    occurrences, top 20."""
    register(spark, sf_dir, ("documents",))
    per_doc = (
        spark.table("documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_docs = spark.table("documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    stats = per_doc.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .filter(F.col("total") >= 50)
        .select(
            F.col("w").alias("term"),
            "df",
            "total",
            # exact integer-arithmetic VMR (tie class at 4 dp)
            exact_div_round(
                F.col("n_docs") * F.col("sumsq")
                - F.col("total") * F.col("total"),
                F.col("n_docs") * F.col("total"),
                out_scale=4,
            ).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), F.asc("term"))
        .limit(20)
    )


def a52_ab_experiment_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-health audit for a deterministic 50/50 hash split
    of the user base: per-arm user counts and purchase-rate stats,
    the sample-ratio-mismatch chi-square ((n_A−n_B)²/(n_A+n_B) for
    equal expected — SRM is the #1 silent killer of A/B results), and
    the Welch z for the arms' mean-purchases difference. Assignment
    is the md5 hash-bucket convention (reproducible across engines
    and reruns); all statistics from integer sufficient sums, one
    double expression per reported stat."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.llm.sampling import hash_bucket

    per_user = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("p")
        )
        .select(
            F.when(hash_bucket("user_id", buckets=100) < 50, "A")
            .otherwise("B")
            .alias("arm"),
            "p",
        )
    )
    wide = per_user.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("arm") == "A", F.col("p")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("arm") == "B", F.col("p")).otherwise(0)).alias("sb"),
        F.sum(
            F.when(F.col("arm") == "A", F.col("p") * F.col("p")).otherwise(0)
        ).alias("qa"),
        F.sum(
            F.when(F.col("arm") == "B", F.col("p") * F.col("p")).otherwise(0)
        ).alias("qb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    va = (F.col("na") * F.col("qa") - F.col("sa") * F.col("sa")).cast(
        "double"
    ) / (na * (na - F.lit(1.0)))
    vb = (F.col("nb") * F.col("qb") - F.col("sb") * F.col("sb")).cast(
        "double"
    ) / (nb * (nb - F.lit(1.0)))
    # chi² is an exact rational (na−nb)²/(na+nb): its 4-dp report uses
    # integer arithmetic (tie class); the flag comparison stays on the
    # shared IEEE double (comparisons don't round). z divides by a
    # sqrt (irrational) and stays a double.
    chi2 = (
        (F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb"))
    ).cast("double") / (F.col("na") + F.col("nb")).cast("double")
    z = (F.col("sa").cast("double") / na - F.col("sb").cast("double") / nb) / F.sqrt(
        va / na + vb / nb
    )
    enriched = wide.select(
        "na", "nb", "sa", "sb",
        exact_div_round(
            (F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb")),
            F.col("na") + F.col("nb"),
            out_scale=4,
        ).alias("chi2_srm"),
        (chi2 > 3.841).alias("srm_flag"),
        F.round(z, 4).alias("z_mean_diff"),
    )
    a_row = enriched.select(
        F.lit("A").alias("arm"),
        F.col("na").alias("n_users"),
        F.col("sa").alias("n_purchases"),
        # exact integer-arithmetic mean (tie class at 4 dp)
        exact_mean(F.col("sa"), F.col("na"), sum_scale=0, out_scale=4).alias(
            "mean_purchases"
        ),
        "chi2_srm", "srm_flag", "z_mean_diff",
    )
    b_row = enriched.select(
        F.lit("B").alias("arm"),
        F.col("nb").alias("n_users"),
        F.col("sb").alias("n_purchases"),
        exact_mean(F.col("sb"), F.col("nb"), sum_scale=0, out_scale=4).alias(
            "mean_purchases"
        ),
        "chi2_srm", "srm_flag", "z_mean_diff",
    )
    return a_row.unionByName(b_row).orderBy("arm")


def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between source unigram
    DISTRIBUTIONS over 256 hashed buckets — the distributional
    companion to text_source_overlap's vocabulary Jaccard: two feeds
    can share vocabulary yet use it at very different rates, and JSD
    (symmetric, bounded by ln 2) is the standard mixture-design
    distance. Distributions live on a dense source×bucket grid
    (|sources|·256 rows — corpus-independent), the pair join runs on
    that grid, and per-bucket terms are rounded-DECIMAL summed;
    0·ln(0) handled as 0 exactly."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import hash_bucket

    toks = spark.table("documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).select("source", hash_bucket("w", buckets=256).alias("b"))
    counts = toks.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    grid = (
        totals.select("source", "n")
        .crossJoin(spark.range(256).select(F.col("id").alias("b")))
        .join(counts, ["source", "b"], "left")
        .na.fill({"c": 0})
        .select(
            "source",
            "b",
            (F.col("c") / F.col("n").cast("double")).alias("p"),
        )
    )
    l = grid.select(
        F.col("source").alias("s1"), "b", F.col("p").alias("p1")
    )
    r = grid.select(
        F.col("source").alias("s2"), "b", F.col("p").alias("p2")
    )

    def kl_term(p, m):
        return F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))

    m = (F.col("p1") + F.col("p2")) / 2
    pairs = (
        l.join(r, "b")
        .filter(F.col("s1") < F.col("s2"))
        .select(
            "s1",
            "s2",
            # round-ok: kl_term is log-derived (continuous)
            F.round(
                F.lit(0.5) * (kl_term(F.col("p1"), m) + kl_term(F.col("p2"), m)),
                8,
            )
            .cast("decimal(18,8)")
            .alias("t"),
        )
    )
    return (
        pairs.groupBy("s1", "s2")
        # round the exact DECIMAL(18,8) sum, not its double cast —
        # an 8-dp rational CAN sit on a 6-dp boundary (tie class)
        .agg(F.round(F.sum("t"), 6).cast("double").alias("jsd"))
        .orderBy("jsd", "s1", "s2")
    )


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation of a 1000-doc sampling
    budget across sources: n_h ∝ N_h·σ_h (strata that are BIG and
    VARIABLE get more samples — the minimum-variance allocation,
    vs sample_quota_allocation's proportional Hamilton split). σ_h is
    the sample stddev of n_chars from integer sufficient sums;
    integer allocations hit the budget exactly by largest-remainder
    rounding over rounded-DECIMAL shares (deterministic ties)."""
    register(spark, sf_dir, ("documents",))
    BUDGET = 1000
    stats = (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_h"),
            F.sum("n_chars").alias("sx"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
        )
        .select(
            "source",
            "n_h",
            # singleton-stratum guard: a source with one document has
            # sigma 0 (one observation has no spread), not the
            # NULL/NaN a 0/0 division would poison the whole budget
            # with (the weight, share, and allocation rows downstream
            # all inherit it and the budget stops summing to 1000)
            # σ quantizes to DECIMAL(28,8) at birth: every downstream
            # product / rounding is then exact decimal arithmetic, not
            # a double re-round (tie class)
            F.when(F.col("n_h") <= 1, F.lit(0.0))
            .otherwise(
                F.round(
                    F.sqrt(
                        (
                            F.col("n_h") * F.col("sxx")
                            - F.col("sx") * F.col("sx")
                        ).cast("double")
                        / (
                            F.col("n_h") * (F.col("n_h") - 1)
                        ).cast("double")
                    ),
                    8,
                )
            )
            .cast("decimal(28,8)")
            .alias("sigma"),
        )
        .withColumn(
            "wgt",
            (F.col("n_h") * F.col("sigma")).cast("decimal(28,8)"),
        )
    )
    tot = stats.agg(F.sum("wgt").alias("wtot"))
    shares = stats.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        # σ is DECIMAL(28,8): this round is exact decimal arithmetic
        F.round("sigma", 4).cast("double").alias("sigma"),
        exact_div_round(
            F.col("wgt") * 100000000,
            F.col("wtot") * 100000000,
            out_scale=8,
        ).alias("share"),
        # the displayed 6-dp share re-derives from the exact integers
        # (round(share, 6) of the 8-dp double is the tie class)
        exact_div_round(
            F.col("wgt") * 100000000,
            F.col("wtot") * 100000000,
            out_scale=6,
        ).alias("share6"),
    )
    with_floor = shares.select(
        "*",
        F.floor(F.col("share") * BUDGET).cast("long").alias("base"),
        (F.col("share") * BUDGET - F.floor(F.col("share") * BUDGET)).alias(
            "frac"
        ),
    )
    wr = Window.orderBy(F.desc("frac"), F.asc("source"))
    short = with_floor.agg(
        (F.lit(BUDGET) - F.sum("base")).alias("short")
    )
    return (
        with_floor.withColumn("rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(short))
        .select(
            "source",
            "n_h",
            "sigma",
            F.col("share6").alias("neyman_share"),
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("short"), 1).otherwise(0)
            ).alias("allocation"),
        )
        .orderBy("source")
    )


def a53_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength per event type (STL's strength statistic
    with a day-of-week seasonal component): 1 − var(residual)/var(x)
    over the DECIMAL-exact daily totals — the one-number answer to
    "is this series weekly-periodic enough to model" that a27's
    z-anomalies and a44's ACF lags both presuppose. Seasonal means
    and residual moments use the repo's rounded-DECIMAL discipline;
    state is |types|·|days|."""
    register(spark, sf_dir, ("events",))
    daily = (
        spark.table("events")
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)")).alias("v")
        )
        .withColumn("dow", F.dayofweek("day"))
    )
    seas = daily.groupBy("event_type", "dow").agg(
        exact_mean(F.sum("v"), F.count(F.lit(1)), sum_scale=2, out_scale=8).alias("s")
    )
    # r11: the whole moment computation moves to scaled integers —
    # x_i = v·10² (exact long), r_i = v·10⁸ − s·10⁸ (exact long; s is
    # exact_mean's q/10⁸, recovered as the integer q). Every sum /
    # cross-product is then exact integer arithmetic and the variance
    # ratios round half-up in integer arithmetic (round(double, 4) of
    # an exact rational is the cross-engine tie class).
    resid = daily.join(seas, ["event_type", "dow"]).select(
        "event_type",
        (F.col("v") * 100).cast("long").alias("xi"),
        (
            (F.col("v") * 100).cast("long") * F.lit(1000000)
            # round-ok: s is q/1e8 by construction (exact_mean) — the
            # ×1e8 round recovers the exact integer q, never a .5
            - F.round(F.col("s") * 1e8, 0).cast("long")
        ).alias("ri"),
    )
    stats = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("xi").alias("sx"),
        F.sum(
            F.col("xi").cast("decimal(19,0)") * F.col("xi").cast("decimal(19,0)")
        ).alias("sxx"),
        F.sum("ri").alias("sr"),
        F.sum(
            F.col("ri").cast("decimal(19,0)") * F.col("ri").cast("decimal(19,0)")
        ).alias("srr"),
    )
    _d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n_d = _d(F.col("n_days"))
    # units: sx/sxx carry 10⁻²/10⁻⁴, sr/srr carry 10⁻⁸/10⁻¹⁶
    num_x = n_d * _d(F.col("sxx")) - _d(F.col("sx")) * _d(F.col("sx"))
    num_r = n_d * _d(F.col("srr")) - _d(F.col("sr")) * _d(F.col("sr"))
    den_n = n_d * (n_d - 1)
    _sc4 = F.lit(10 ** 4).cast("decimal(20,0)")
    _sc16 = F.lit(10 ** 16).cast("decimal(20,0)")
    _sc12 = F.lit(10 ** 12).cast("decimal(20,0)")
    guard = F.col("n_days") > 1
    return stats.select(
        "event_type",
        "n_days",
        F.when(guard, exact_div_round(num_x, den_n * _sc4, out_scale=4)).alias(
            "var_total"
        ),
        F.when(guard, exact_div_round(num_r, den_n * _sc16, out_scale=4)).alias(
            "var_resid"
        ),
        # 1 − var_r/var_x = (num_x·10¹² − num_r)/(num_x·10¹²) exactly
        F.when(
            guard & (num_x > 0),
            F.greatest(
                F.lit(0.0),
                exact_div_round(num_x * _sc12 - num_r, num_x * _sc12, out_scale=4),
            ),
        ).alias("seasonality_strength"),
    ).orderBy("event_type")


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup — the production ingestion
    shape: docs 0-249 are the EXISTING corpus whose MinHash band
    signatures are persisted as a fingerprint store
    (llm/dedup.py::minhash_fingerprints); docs 250+ are the NEW batch,
    deduped by probing store buckets with ONE (band_no, band_key)
    equi-join — batch×store, never store×store — plus the within-batch
    smaller-id self-join, then exact Jaccard verification over
    candidate docs only. A batch doc is a duplicate iff it matches any
    previously SEEN doc (store or smaller-id batchmate), which makes
    two-batch incremental ≡ one-shot on the union by construction
    (property-tested in tests/test_llm_ops.py). Returns per-doc
    decisions with provenance: (doc_id, is_dup, dup_of = smallest
    matching predecessor, n_dup_sources)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.dedup import (
        incremental_dedup_batch,
        minhash_fingerprints,
    )

    docs = spark.table("documents").select("doc_id", "text")
    store_docs = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    store_fps = minhash_fingerprints(store_docs, id_col="doc_id", text_col="text")
    return (
        incremental_dedup_batch(batch, store_fps, store_docs)
        .withColumn("n_dup_sources", F.col("n_dup_sources").cast("long"))
        .orderBy("doc_id")
    )


def curation_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage funnel counts of the SAME composed curation chain
    (config shared via ``_CURATION_CONFIG`` so the two registered
    views of the pipeline can never diverge): how many documents
    survive each gate — the reference's critical-subset logging
    discipline (pipelines/rj_smtr/utils.py:436-465) applied to corpus
    hygiene. The stats path exercises ``collect_stats=True``:
    per-stage persists + bounded driver-side counts (5 actions, one
    scalar each), released before return."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.curation import CurationConfig, curate_corpus

    docs = spark.table("documents").select("doc_id", "text", "source")
    _, stats = curate_corpus(
        docs, CurationConfig(**_CURATION_CONFIG), collect_stats=True
    )
    return stats.orderBy("stage")


def t4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-NATIVE session windows (``F.session_window``, 10-min
    gap): per (user, session) event count and value total, with the
    engine-defined session bounds [first_ts, last_ts + gap). The
    batch face of the streaming-capable operator — the same
    expression runs under ``readStream`` with a watermark
    (streaming/sessions.py::sessionized, its pass-local twin), which
    the cumulative-flag formulation (w6_sessionize) cannot; w6 stays
    as the portable ANSI twin. This row gives the session-window
    semantics themselves an ORACLE-checked batch face. Reference spec: the capture-window
    discipline (pipelines/rj_smtr/flows.py provenance) applied to
    activity sessions. One shuffle (user_id); the session merge is
    a sort within the user partition."""
    register(spark, sf_dir, ("events",))
    return (
        spark.table("events")
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact DECIMAL sum — a raw double sum of 2-dp values is
            # partition-order-dependent at scale (determinism rule)
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus rank-frequency curve — the
    companion diagnostic to text_heaps_law: slope of log10(freq) vs
    log10(rank) over the top-200 terms by closed-form least squares.
    Healthy natural-language crawls fit slope ≈ −1; a flatter slope
    flags template/boilerplate corpora (the curation gate's cheap
    smoke alarm). Same exactness discipline as the Heaps fit: exact
    integer counts, per-point logs rounded then DECIMAL-summed, one
    deterministic double division at the end. The global top-200
    window runs AFTER the count aggregation on a 200-row frame —
    bounded, never corpus-sized. On the 31-word synthetic corpus the
    curve is the saturated-vocabulary degenerate end, same caveat as
    text_heaps_law."""
    register(spark, sf_dir, ("documents",))
    words = (
        spark.table("documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    top = counts.orderBy(F.desc("freq"), "w").limit(200)
    wr = Window.orderBy(F.desc("freq"), "w")
    pts = top.withColumn("rank", F.row_number().over(wr)).select(
        # 6-dp logs as scaled BIGINTs (×10⁶): exact integer fit —
        # same tie-class discipline as text_heaps_law
        F.round(F.log10("rank") * 1e6, 0).cast("long").alias("_x"),
        F.round(F.log10("freq") * 1e6, 0).cast("long").alias("_y"),
    )
    _d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    _num_b = _d(F.col("_n")) * _d(F.col("_sxy")) - _d(F.col("_sx")) * _d(
        F.col("_sy")
    )
    _num_i = _d(F.col("_sy")) * _d(F.col("_sxx")) - _d(F.col("_sx")) * _d(
        F.col("_sxy")
    )
    _den = _d(F.col("_n")) * _d(F.col("_sxx")) - _d(F.col("_sx")) * _d(
        F.col("_sx")
    )
    return (
        pts.agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.count(F.lit(1)).alias("_n"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
            F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        )
        .select(
            "n_terms",
            exact_div_round(_num_b, _den, out_scale=4).alias("zipf_slope"),
            exact_div_round(
                _num_i,
                _den * F.lit(10 ** 6).cast("decimal(20,0)"),
                out_scale=4,
            ).alias("log10_c"),
        )
    )


def sample_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding of the corpus
    (llm/sampling.py::rendezvous_shard) — the incremental-resharding
    discipline: per shard under an 8-shard layout, how many docs land
    there and how many would MOVE if a 9th shard were added. HRW's
    guarantee is that only ~1/9 of keys move (each doc moves iff the
    new shard wins its hash tournament), vs modulo re-sharding moving
    ~8/9 — the difference between topping up a 100 TB layout and
    rewriting it. Assignment is a pure map-side struct-max per row
    (zero shuffle); the rollup is one 8-row aggregation."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import rendezvous_shard

    assigned = spark.table("documents").select(
        "doc_id",
        rendezvous_shard("doc_id", shards=8).alias("shard8"),
        rendezvous_shard("doc_id", shards=9).alias("shard9"),
    )
    return (
        assigned.groupBy(F.col("shard8").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("shard9") != F.col("shard8")).cast("long")).alias(
                "n_moved"
            ),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


def a42_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift check
    (operators/drift.py::ks_drift): event values of the first 15 days
    (reference) vs the rest (current), D = max ECDF gap with the 95%
    Smirnov rejection bound. The binning-free companion to
    a32_psi_drift — same period split, no bin-edge choice to defend.
    Counts aggregate by distinct value first (the 2-decimal metric
    domain is bounded regardless of row volume), so the cumulative
    window runs over the distinct-value table, not the events."""
    register(spark, sf_dir, ("events",))
    from pipelines_spark.operators.drift import ks_drift

    ev = spark.table("events").filter(F.col("value").isNotNull())
    cut = ev.agg(F.date_add(F.min(F.to_date("ts")), 15).alias("_cut"))
    with_cut = ev.crossJoin(F.broadcast(cut))
    ref = with_cut.filter(F.to_date("ts") < F.col("_cut"))
    cur = with_cut.filter(F.to_date("ts") >= F.col("_cut"))
    return ks_drift(ref, cur, "value")


def a43_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between two categorical columns
    (order priority × order status) — the data-profiling complement
    to the per-column profiler: does one dimension predict the
    other? Chi-square over the contingency table with expected
    counts from the margins, V = sqrt(χ²/(n·min(r−1,c−1))). All
    counts exact; per-cell χ² terms rounded then DECIMAL-summed
    (the repo's float convention) so the 15-cell sum is
    partition-order-exact. State: O(r·c) cells — three tiny
    broadcast joins, nothing scales with rows."""
    register(spark, sf_dir, ("orders",))
    cells = spark.table("orders").groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    rowt = cells.groupBy("o_orderpriority").agg(F.sum("n_cell").alias("n_row"))
    colt = cells.groupBy("o_orderstatus").agg(F.sum("n_cell").alias("n_col"))
    n_tot = cells.agg(
        F.sum("n_cell").alias("n"),
        F.count_distinct("o_orderpriority").alias("r"),
        F.count_distinct("o_orderstatus").alias("c"),
    )
    terms = (
        cells.join(rowt, "o_orderpriority")
        .join(colt, "o_orderstatus")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "n",
            "r",
            "c",
            F.round(
                F.pow(
                    F.col("n_cell") - F.col("n_row") * F.col("n_col") / F.col("n"),
                    2,
                )
                / (F.col("n_row") * F.col("n_col") / F.col("n")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("_t"),
        )
    )
    return (
        terms.groupBy("n", "r", "c")
        # round the exact DECIMAL(18,6) sum (tie class at 4 dp)
        .agg(F.round(F.sum("_t"), 4).cast("double").alias("chi2"))
        .select(
            "n",
            F.col("r").cast("long").alias("n_rows"),
            F.col("c").cast("long").alias("n_cols"),
            "chi2",
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
                ),
                4,
            ).alias("cramers_v"),
        )
    )


def embed_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (llm/similarity.py::
    margin_bitext_topk; Artetxe & Schwenk 2019 ratio margin): best
    cross-corpus match per query scored by cosine over mean top-4
    neighbourhood cosine — the hubness-cancelling objective parallel-
    corpus construction (LASER/CCMatrix lineage) actually optimizes,
    here between the odd-id (<200) and even-id halves of the
    embedding corpus. The scored pair table is persisted once and
    feeds both degree legs plus the final margin join (the
    multi-consumer staging discipline)."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import margin_bitext_topk

    emb = spark.table("embeddings")
    return margin_bitext_topk(
        emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 200)),
        emb.filter(F.col("vec_id") % 2 == 0),
    ).orderBy("query_id")


def embed_bitext_margin_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AT-SCALE posture of margin-based bitext mining: candidates
    come from a deterministic SRP bucket EQUI-join (no cross join
    anywhere — the same scale move embed_srp_ann makes over
    embed_knn_topk) and the Artetxe-Schwenk ratio-margin degrees are
    computed over the candidate lists. Covers the FULL corpus halves
    (1000×1000 at sf0.1) where the exact twin caps its query set —
    bucketing is what buys the coverage. Approximation is defined,
    not random: buckets are deterministic sign projections, so the
    oracle replays them term-for-term."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import margin_bitext_topk

    emb = spark.table("embeddings")
    return margin_bitext_topk(
        emb.filter(F.col("vec_id") % 2 == 1),
        emb.filter(F.col("vec_id") % 2 == 0),
        ann_planes=8,
    ).orderBy("query_id")


def sample_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing audit: documents concatenated in
    (source, doc_id) order and chopped into 2048-token training
    sequences (tokens split across boundaries — the standard
    pretraining pack), reported per source: sequence count, total
    tokens, boundary-straddling docs, and the last sequence's fill.
    The placement is a pure per-source cumulative sum (ONE bounded
    window per source partition, no global window, no sequential
    state), which is why this formulation scales where a true
    first-fit bin packer (whose resets depend on unbounded history)
    cannot be expressed relationally."""
    register(spark, sf_dir, ("documents",))
    cap = 2048
    toks = spark.table("documents").select(
        "source",
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != ""))
        .cast("long")
        .alias("n_tok"),
    )
    wsrc = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.withColumn("_end", F.sum("n_tok").over(wsrc)).select(
        "source",
        "n_tok",
        (F.col("_end") - F.col("n_tok")).alias("_start"),
        "_end",
    )
    seqd = placed.select(
        "source",
        "n_tok",
        F.floor(F.col("_start") / cap).alias("seq_id"),
        (F.floor((F.col("_end") - 1) / cap) != F.floor(F.col("_start") / cap))
        .cast("long")
        .alias("straddles"),
    )
    return (
        seqd.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.max("seq_id") + 1).alias("n_seqs"),
            F.sum("straddles").alias("n_straddling_docs"),
            (F.sum("n_tok") - F.lit(cap) * F.max("seq_id")).alias("last_fill"),
        )
        .orderBy("source")
    )


def trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test per event type — the
    significance companion to trend_theilsen_by_type's slope:
    S = Σ_{i<j} sign(x_j − x_i) over the daily value totals, z from
    the no-ties variance n(n−1)(2n+5)/18. Daily totals are DECIMAL
    sums (2-decimal values add exactly), so every pairwise sign is
    engine-exact — the float-sum hazard never arises. Pairwise stage
    is over DAYS (30², after the daily rollup), never rows."""
    register(spark, sf_dir, ("events",))
    daily = spark.table("events").groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("v").alias("v1"))
    b = daily.select("event_type", F.col("d").alias("d2"), F.col("v").alias("v2"))
    s_stat = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.signum((F.col("v2") - F.col("v1")).cast("double")).cast("long")
            ).alias("s_stat"),
            (F.count_distinct("d1") + 1).alias("n_days"),
        )
    )
    z = F.round(
        (F.col("s_stat") - F.signum(F.col("s_stat").cast("double")))
        / F.sqrt(
            F.col("n_days")
            * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            / F.lit(18.0)
        ),
        4,
    )
    return (
        s_stat.select("event_type", "n_days", "s_stat", z.alias("z_stat"))
        .select(
            "event_type",
            "n_days",
            "s_stat",
            "z_stat",
            (F.abs(F.col("z_stat")) > 1.96).alias("trend_95"),
        )
        .orderBy("event_type")
    )


def sample_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 200-doc budget
    across sources (llm/sampling.py::largest_remainder_quota) — the
    exact integer allocation a mixture spec needs before sampling:
    quotas sum to exactly the budget by construction, where
    independent per-source rounding drifts by ±(n_sources/2). All
    integer arithmetic, engine-exact."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import largest_remainder_quota

    return largest_remainder_quota(
        spark.table("documents"), "source", budget=200
    ).orderBy("source")


def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    diagnostic behind dedup/mixture decisions: two sources with
    near-identical vocabularies are near-duplicate feeds (merge or
    cap them); disjoint ones add diversity. One distinct (source,
    word) projection, one word-keyed self-join with s1 < s2 — the
    shuffle is vocabulary-bounded, never corpus-bounded, and the
    pair table is |sources|², never |docs|²."""
    register(spark, sf_dir, ("documents",))
    words = (
        spark.table("documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    sizes = words.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    inter = (
        words.withColumnRenamed("source", "s1")
        .join(words.withColumnRenamed("source", "s2"), "w")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"source": "s1", "vocab": "v1"}), "s1")
        .join(sizes.withColumnsRenamed({"source": "s2", "vocab": "v2"}), "s2")
        .select(
            "s1",
            "s2",
            "n_inter",
            (F.col("v1") + F.col("v2") - F.col("n_inter")).alias("n_union"),
            exact_div_round(
                F.col("n_inter"),
                F.col("v1") + F.col("v2") - F.col("n_inter"),
                out_scale=6,
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


def text_decontamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the Dolma/FineWeb companion
    to the exact twin (text_decontamination): instead of flagging any
    shared shingle, score each corpus doc by its CONTAINMENT in the
    benchmark — max over probe docs of |shared 4-gram shingles| /
    |doc shingles| — so near-verbatim eval leakage ranks above
    incidental phrase overlap. Shape: probe side tiny → broadcast;
    corpus side one shingle explode feeding two consumers (the
    overlap join and the per-doc sizes), persisted once. Returns the
    worst (most-containing) probe per flagged doc."""
    from pipelines_spark.llm.dedup import word_shingles

    register(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    from pipelines_spark.plans.staging import stage as _cut_fz

    # staged (lazy localCheckpoint), not persist(): blocks free with
    # the frame instead of lingering in the CacheManager
    corpus_sh = _cut_fz(
        docs.filter(F.col("doc_id") >= 10)
        .select("doc_id", F.explode(word_shingles("text", 4)).alias("sh")),
        eager=False,
    )
    probe_sh = (
        docs.filter(F.col("doc_id") < 10)
        .select(
            F.col("doc_id").alias("probe_id"),
            F.explode(word_shingles("text", 4)).alias("sh"),
        )
        .distinct()
    )
    shared = (
        corpus_sh.join(F.broadcast(probe_sh), "sh")
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = corpus_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_doc_shingles")
    )
    wc = Window.partitionBy("doc_id").orderBy(
        F.desc("containment"), F.asc("probe_id")
    )
    return (
        shared.join(sizes, "doc_id")
        .withColumn(
            "containment",
            # exact integer-arithmetic containment (tie class at 6 dp)
            exact_div_round(
                F.col("n_shared"), F.col("n_doc_shingles"), out_scale=6
            ),
        )
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("probe_id").alias("worst_probe_id"),
            "n_shared",
            "n_doc_shingles",
            "containment",
        )
        .orderBy("doc_id")
    )


def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture rates (the multilingual-sampling
    classic, mBERT/XLM-R lineage): sampling share ∝ p_i^α with
    α = 0.5 — upweights tail sources, damps head ones, the knob
    between natural (α=1) and uniform (α=0) mixing. The α-powered
    weights are rounded then DECIMAL-summed so the normalizing
    constant is partition-order-exact (the repo's float convention);
    ``boost`` is the head/tail rebalancing factor a mixture spec
    actually reads. One counts aggregation; everything after is a
    20-row broadcast."""
    register(spark, sf_dir, ("documents",))
    per = spark.table("documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = per.agg(F.sum("n_docs").alias("total"))
    w = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total",
        F.round(F.pow(F.col("n_docs") / F.col("total"), 0.5), 9)
        .cast("decimal(18,9)")
        .alias("_w"),
    )
    sw = w.agg(F.sum("_w").alias("_sw"))
    return (
        w.crossJoin(F.broadcast(sw))
        .select(
            "source",
            "n_docs",
            # all three ratios via the exact-rational rounding
            # discipline (functions/exact.py); boost recovers the two
            # 6-dp shares as exact integers first
            exact_div_round(
                F.col("n_docs"), F.col("total"), out_scale=6
            ).alias("natural_share"),
            exact_div_round(
                F.col("_w") * F.lit(10 ** 9).cast("decimal(20,0)"),
                F.col("_sw") * F.lit(10 ** 9).cast("decimal(20,0)"),
                out_scale=6,
            ).alias("temp_share"),
        )
        .withColumn(
            "boost",
            exact_div_round(
                # round-ok: share is q/1e6 by construction — the ×1e6
                # round recovers the exact integer q, never a .5
                F.round(F.col("temp_share") * 1e6, 0).cast("long"),
                # round-ok: same integer recovery
                F.round(F.col("natural_share") * 1e6, 0).cast("long"),
                out_scale=4,
            ),
        )
        .orderBy("source")
    )


def a44_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily value series per event
    type, lags 1–7 — the seasonality detector behind a27's weekly
    model: a strong lag-7 spike is the signature worth checking, not
    assuming. Daily totals are DECIMAL sums (exact), the seven lag
    columns ride ONE per-type window pass, and the Pearson sufficient
    statistics are exact-decimal sums — the correlation division is
    the only float step (rounded 4). Pairwise state: |types|×7 rows
    after the daily rollup, never events."""
    register(spark, sf_dir, ("events",))
    daily = spark.table("events").groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    wd = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "v",
        *[F.lag("v", k).over(wd).alias(f"_l{k}") for k in range(1, 8)],
    )
    stacked = lagged.select(
        "event_type",
        F.expr(
            "stack(7, "
            + ", ".join(f"{k}, _l{k}" for k in range(1, 8))
            + ") AS (lag, y)"
        ),
        F.col("v").alias("x"),
    ).filter(F.col("y").isNotNull())
    stats = stacked.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").cast("double").alias("_sx"),
        F.sum("y").cast("double").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("_syy"),
    )
    return stats.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.round(
            (F.col("n_pairs") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
            / F.sqrt(
                (F.col("n_pairs") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
                * (F.col("n_pairs") * F.col("_syy") - F.col("_sy") * F.col("_sy"))
            ),
            4,
        ).alias("acf"),
    ).orderBy("event_type", "lag")


def embed_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cohesion per embedding label: mean cosine of each
    vector to its label CENTROID — the corpus-diversity diagnostic a
    SemDeDup-style pruning run reads before choosing per-cluster
    keep rates (tight clusters → prune harder). Centroids come from
    one posexplode + (label, dim) aggregation with rounded-DECIMAL
    element sums (partition-order-exact means), reassembled by a
    sorted collect — state is |labels|×dims, never vectors². The
    per-vector cosine is one broadcast join back onto the corpus."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import _norm_col, _pair_cosine

    emb = spark.table("embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        "label",
        "dim",
        F.round(F.col("val").cast("double"), 7).cast("decimal(20,7)").alias("v"),
    )
    cent = dims.groupBy("label", "dim").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("c")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    # centroid norm computed ONCE per label on the broadcast side
    # (not per corpus row), per-pair cosine is the unrolled codegen
    # chain — dot/(norm_emb*norm_cent) in the same float order as the
    # interpreted fold, so scores are bit-identical (similarity._dot)
    cent_arr = cent_arr.select(
        "label", "centroid", _norm_col("centroid", 64).alias("_cn")
    )
    return (
        emb.join(F.broadcast(cent_arr), "label")
        .select(
            "label",
            F.round(
                _pair_cosine(
                    "embedding",
                    "centroid",
                    _norm_col("embedding", 64),
                    "_cn",
                    64,
                ),
                4,
            )
            .cast("decimal(10,4)")
            .alias("_cos"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            exact_mean(
                F.sum("_cos"), F.count(F.lit(1)), sum_scale=4
            ).alias("cohesion"),
        )
        .orderBy("label")
    )


def a45_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts and rates for four foreign-key relations (orders→customer,
    lineitem→orders, lineitem→supplier, customer→nation) — the
    data-quality check every load pipeline runs before publishing
    (the reference's check-harness discipline, plans/checks.py
    provenance, expressed as one oracle-checked frame). Each leg is a
    LEFT-ANTI join against the distinct parent keys: the parent side
    reduces to its key column (column pruning reaches the scan) and
    broadcasts when small; no row pairing ever materializes."""
    register(
        spark, sf_dir, ("orders", "customer", "lineitem", "supplier", "nation")
    )

    def leg(rel: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str):
        orphans = child.join(
            parent.select(F.col(pkey).alias(ckey)).distinct(), ckey, "left_anti"
        )
        return (
            child.agg(
                F.lit(rel).alias("relation"), F.count(F.lit(1)).alias("n_child")
            )
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                "relation",
                "n_child",
                "n_orphans",
                exact_div_round(
                    F.col("n_orphans"), F.col("n_child"), out_scale=6
                ).alias("orphan_rate"),
            )
        )

    orders = spark.table("orders")
    cust = spark.table("customer")
    li = spark.table("lineitem")
    return (
        leg("orders->customer", orders, "o_custkey", cust, "c_custkey")
        .unionByName(
            leg("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        )
        .unionByName(
            leg(
                "lineitem->supplier",
                li,
                "l_suppkey",
                spark.table("supplier"),
                "s_suppkey",
            )
        )
        .unionByName(
            leg(
                "customer->nation",
                cust,
                "c_nationkey",
                spark.table("nation"),
                "n_nationkey",
            )
        )
        .orderBy("relation")
    )


def text_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DISCRIMINATIVE terms via Monroe-Colaresi-Quinn 2008
    ("Fightin' Words") log-odds with an informative Dirichlet prior:
    each source scored against the REST of the corpus, prior = corpus
    word distribution scaled to a0=1000, z = δ/√(1/(y+a) +
    1/(y_rest+a)). The prior is what makes this beat raw TF-IDF for
    corpus-mix forensics — rare words can't dominate on tiny counts.
    Top-3 terms per source. All inputs are exact integer counts; the
    z expression is one deterministic double chain per (source, word)
    row, state bounded by |sources|×vocabulary."""
    register(spark, sf_dir, ("documents",))
    a0 = 1000.0
    words = (
        spark.table("documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    src_w = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("y"))
    corpus_w = src_w.groupBy("w").agg(F.sum("y").alias("y_all"))
    src_n = src_w.groupBy("source").agg(F.sum("y").alias("n_src"))
    tot = corpus_w.agg(F.sum("y_all").alias("n_all"))
    joined = (
        src_w.join(F.broadcast(corpus_w), "w")
        .join(F.broadcast(src_n), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            "y",
            (F.lit(a0) * F.col("y_all") / F.col("n_all")).alias("a_w"),
            (F.col("y_all") - F.col("y")).alias("y_rest"),
            (F.col("n_all") - F.col("n_src")).alias("n_rest"),
            "n_src",
        )
    )
    z = joined.select(
        "source",
        "w",
        "y",
        F.round(
            (
                F.log(
                    (F.col("y") + F.col("a_w"))
                    / (F.col("n_src") + F.lit(a0) - F.col("y") - F.col("a_w"))
                )
                - F.log(
                    (F.col("y_rest") + F.col("a_w"))
                    / (F.col("n_rest") + F.lit(a0) - F.col("y_rest") - F.col("a_w"))
                )
            )
            / F.sqrt(
                1.0 / (F.col("y") + F.col("a_w"))
                + 1.0 / (F.col("y_rest") + F.col("a_w"))
            ),
            4,
        ).alias("zeta"),
    )
    wz = Window.partitionBy("source").orderBy(F.desc("zeta"), F.asc("w"))
    return (
        z.withColumn("rn", F.row_number().over(wz))
        .filter(F.col("rn") <= 3)
        .select("source", F.col("rn").cast("long").alias("rank"), "w", "y", "zeta")
        .orderBy("source", "rank")
    )


def j20_hashed_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving linkage: join orders to customers on a
    SALTED-HASH key (md5 of salt:custkey) instead of the raw
    identifier — the tokenized-identifier pattern for linking
    datasets whose join keys must not travel in the clear (the PII
    discipline of text_pii_redaction applied to join keys). The hash
    is the module's cross-engine md5 fold, so the oracle replays the
    tokenization bit-for-bit; revenue per market segment proves the
    linkage loses nothing vs the raw-key join. Same shuffle shape as
    the plain equi-join — tokenization is a map-side projection."""
    register(spark, sf_dir, ("orders", "customer"))
    from pipelines_spark.operators.sketches import md5_hash32

    salt = "lnk2024"
    oc = spark.table("orders").select(
        md5_hash32(
            F.concat_ws(":", F.lit(salt), F.col("o_custkey").cast("string"))
        ).alias("hk"),
        "o_totalprice",
    )
    cc = spark.table("customer").select(
        md5_hash32(
            F.concat_ws(":", F.lit(salt), F.col("c_custkey").cast("string"))
        ).alias("hk"),
        "c_mktsegment",
    )
    return (
        oc.join(cc, "hk")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def w14_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day MEDIAN of the daily value series per event type —
    the robust trend line the rolling mean (w4) can't give when a
    single burst day would drag it: outlier days pass through the
    median untouched. Exact interpolated ``percentile`` as a window
    aggregate over a 7-row frame (≡ DuckDB quantile_cont, the
    established pairing); input totals are DECIMAL-exact, and the
    window runs on the |types|×|days| daily rollup, never events."""
    register(spark, sf_dir, ("events",))
    daily = spark.table("events").groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "event_type",
        "d",
        F.col("v").cast("double").alias("daily_total"),
        F.round(F.expr("percentile(v, 0.5)").over(w7), 4).alias(
            "rolling_median_7d"
        ),
        F.count(F.lit(1)).over(w7).alias("n_window"),
    ).orderBy("event_type", "d")


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer↔supplier trade graph
    (Newman 2002): Pearson correlation between the endpoint degrees
    over all directed edges — negative means hubs attach to leaves
    (the hub-and-spoke shape that makes skew handling matter),
    positive means hubs trade with hubs. Sufficient statistics are
    DECIMAL(38,0) sums of integer degrees (Σdeg² over edges overflows
    BIGINT at real scale — hit at sf0.01 already), so the statistic
    is engine-exact up to one final double division. One degree
    aggregate + two broadcast-joinable lookups; state O(|V|)."""
    register(spark, sf_dir, ("lineitem", "orders"))
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    bi = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = bi.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ends = bi.join(deg.withColumnsRenamed({"deg": "dx"}), "src").join(
        deg.withColumnsRenamed({"src": "dst", "deg": "dy"}), "dst"
    )
    stats = ends.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m2"),
        F.sum("dx").cast("decimal(38,0)").alias("sx"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("decimal(38,0)").alias("syy"),
    )
    return stats.select(
        F.col("m2").cast("long").alias("n_directed_edges"),
        F.round(
            (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            4,
        ).alias("assortativity"),
    )


def a47_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: values clamped to the exact
    [p05, p95] interpolated percentiles before averaging — the robust
    location estimate that, unlike trimming, keeps n constant. The
    clamp bounds are rounded to the metric's 2-decimal grain and the
    clamped values stay DECIMAL, so the mean is one exact sum / count
    (partition-order-exact). Two passes over the grouped metric: one
    percentile aggregate (broadcast back), one clamped sum."""
    register(spark, sf_dir, ("events",))
    ev = spark.table("events").filter(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 2)
        .cast("decimal(18,2)")
        .alias("lo"),
        F.round(F.expr("percentile(value, 0.95)"), 2)
        .cast("decimal(18,2)")
        .alias("hi"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.least(
            F.greatest(F.col("value").cast("decimal(18,2)"), F.col("lo")),
            F.col("hi"),
        ).alias("wv"),
    )
    return (
        clamped.groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_mean(
                F.sum("wv"), F.count(F.lit(1)), sum_scale=2
            ).alias("winsorized_mean"),
        )
        .select(
            "event_type",
            "n",
            F.col("lo").cast("double").alias("p05"),
            F.col("hi").cast("double").alias("p95"),
            "winsorized_mean",
        )
        .orderBy("event_type")
    )


def a48_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column information profile: Shannon entropy (nats),
    normalized entropy H/ln(k), and Gini-Simpson diversity 1−Σp² for
    five categorical columns across three tables — the profiler
    signal that tells a pipeline author which dimensions are
    near-constant (prune them from partitioning/grouping) and which
    are near-uniform (good shard keys). Per-value terms are rounded
    then DECIMAL-summed (partition-order-exact, the repo's float
    convention); state per column is its distinct-value count."""
    register(spark, sf_dir, ("events", "documents", "orders"))

    def leg(df: DataFrame, table: str, col: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        tot = counts.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("k"))
        terms = counts.crossJoin(F.broadcast(tot)).select(
            "n",
            "k",
            F.round(
                -(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n")), 8
            )
            .cast("decimal(18,8)")
            .alias("_h"),
            exact_div_round(
                F.col("c") * F.col("c"), F.col("n") * F.col("n"), out_scale=8
            )
            .cast("decimal(18,8)")
            .alias("_p2"),
        )
        return (
            terms.groupBy("n", "k")
            .agg(
                F.round(F.sum("_h"), 4).cast("double").alias("entropy"),
                F.round(
                    F.lit(1).cast("decimal(18,8)") - F.sum("_p2"), 4
                ).cast("double").alias("gini_simpson"),
            )
            .select(
                F.lit(f"{table}.{col}").alias("column"),
                F.col("n"),
                F.col("k").alias("n_distinct"),
                "entropy",
                F.round(
                    F.col("entropy") / F.log(F.col("k").cast("double")), 4
                ).alias("norm_entropy"),
                "gini_simpson",
            )
        )

    ev, docs, o = (
        spark.table("events"),
        spark.table("documents"),
        spark.table("orders"),
    )
    return (
        leg(ev, "events", "event_type")
        .unionByName(leg(docs, "documents", "source"))
        .unionByName(leg(docs, "documents", "lang"))
        .unionByName(leg(o, "orders", "o_orderpriority"))
        .unionByName(leg(o, "orders", "o_orderstatus"))
        .orderBy("column")
    )


def q23_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-revenue deciles and each decile's revenue
    share — the 80/20 concentration audit behind account-tiering
    decisions (the per-nation Gini, a38, is the one-number version;
    this is the actionable distribution). Exact DECIMAL revenue sums;
    ntile(10) over the total order (revenue desc, custkey asc) is
    deterministic and runs on the per-customer ROLLUP (|customers|
    rows), never on orders."""
    register(spark, sf_dir, ("orders",))
    rev = spark.table("orders").groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    wd = Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
    tot = rev.agg(F.sum("rev").alias("total"))
    return (
        rev.withColumn("decile", F.ntile(10).over(wd))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").alias("revenue"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "revenue",
            # exact integer-arithmetic share (tie class at 6 dp)
            exact_div_round(
                F.col("revenue") * 100, F.col("total") * 100, out_scale=6
            ).alias("revenue_share"),
        )
        .orderBy("decile")
    )


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 3-core peeling of the customer↔supplier trade graph
    (operators/graph.py::k_core_peel): five rounds of drop-degree-<3,
    per-round (n_nodes, n_edges) so convergence is visible in the
    output — equal consecutive rounds mean the exact k-core was
    reached within the budget. The dense-core extraction that
    identifies the structurally load-bearing trade partners; oracle
    unrolls the identical five rounds as a CTE chain."""
    register(spark, sf_dir, ("lineitem", "orders"))
    from pipelines_spark.operators.graph import k_core_peel

    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    bi = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return k_core_peel(bi, k=3, rounds=5).orderBy("round")


def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease profile — the classic
    readability gate a curation pipeline runs next to the stopword/
    length heuristics (ref: pipelines' per-dataset quality checks are
    schema/volume-level; readability is the text-level analogue).
    Syllables are approximated as vowel groups (``[aeiouy]+``, min 1
    per word) and sentences as ``[.!?]+`` runs (min 1 per doc) — the
    standard proxy when a hyphenation dictionary is out of scope.
    All per-doc arithmetic is JVM codegen (split + HOF aggregate +
    regexp_count, no Python); per-doc scores are rounded then
    DECIMAL-summed (the repo's partition-order-exact float
    convention). One shuffle: the per-source aggregate."""
    register(spark, sf_dir, ("documents",))
    w = F.split(F.col("text"), " ")
    syl = F.aggregate(
        F.transform(
            w,
            lambda x: F.greatest(
                F.regexp_count(x, F.lit("[aeiouy]+")), F.lit(1)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_sent = F.greatest(F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1))
    nw = F.size(w)
    # flesch is an exact rational: (206835·ns·nw − 1015·nw² −
    # 84600·syl·ns)/(1000·ns·nw) — integer-arithmetic round (tie class)
    flesch = exact_div_round(
        F.lit(206835) * n_sent * nw
        - F.lit(1015) * nw * nw
        - F.lit(84600) * syl * n_sent,
        F.lit(1000) * n_sent * nw,
        out_scale=8,
    )
    per_doc = spark.table("documents").select(
        "source",
        flesch.cast("decimal(18,8)").alias("fl"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact_mean(
                F.sum("fl"), F.count(F.lit(1)), sum_scale=8
            ).alias("mean_flesch"),
            exact_mean(
                F.sum(F.when(F.col("fl") >= 50, 1).otherwise(0)),
                F.count(F.lit(1)),
                sum_scale=0,
            ).alias("easy_share"),
        )
        .orderBy("source")
    )


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty per source: for every distinct 3-word
    shingle the corpus-wide first holder is min(doc_id); a doc's
    novelty is the fraction of its shingles it introduced. The
    dataset-freshness signal behind "is this source adding new text
    or re-serving the crawl": near-0 mean novelty means the source is
    derivative of earlier ids. Two aggregates (per-doc sizes,
    per-shingle argmin) and ONE doc-level join — the shingle stream
    itself is never joined, so the shuffle is vocabulary-bounded.
    Docs under 3 words have no shingles and drop out (documented;
    oracle replays the same guard)."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.dedup import word_shingles

    sh = spark.table("documents").select(
        "doc_id", "source", F.explode(word_shingles(F.col("text"), 3)).alias("sh")
    )
    sizes = sh.groupBy("doc_id", "source").agg(F.count(F.lit(1)).alias("n_sh"))
    novel = (
        sh.groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("novel"))
    )
    per_doc = (
        sizes.join(novel, "doc_id", "left")
        .na.fill({"novel": 0})
        .select(
            "source",
            "novel",
            # exact integer-arithmetic novelty ratio (tie class)
            exact_div_round(F.col("novel"), F.col("n_sh"), out_scale=8)
            .cast("decimal(18,8)")
            .alias("nov"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("novel").alias("novel_shingles"),
            exact_mean(
                F.sum("nov"), F.count(F.lit(1)), sum_scale=8
            ).alias("mean_novelty"),
        )
        .orderBy("source")
    )


def text_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring at scale — the fastText-style
    gate (CCNet/RedPajama quality filters) expressed as a pure
    DataFrame plan: hashed unigram presence features (md5 bucket in
    [0,64), the module's cross-engine hash convention), fixed
    deterministic weights in tenths ((bucket % 21 − 10)/10, so
    per-doc weight sums are EXACT integers in tenths), sigmoid score,
    keep at 0.5. The weights are a stand-in for a trained model's —
    the plan (explode → hash → integer-weight sum → sigmoid → gate)
    is exactly what serving a real linear classifier over 100 TB
    looks like: map-side explode + one per-doc aggregate + one
    per-source aggregate, no Python anywhere."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import hash_bucket

    feats = spark.table("documents").select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    bucket = hash_bucket("w", buckets=64)
    scored = (
        feats.select(
            "doc_id", "source", ((bucket % 21) - F.lit(10)).alias("w_tenths")
        )
        .groupBy("doc_id", "source")
        .agg(
            F.sum("w_tenths").alias("sum_tenths"),
            F.count(F.lit(1)).alias("n_feats"),
        )
        .select(
            "source",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.lit(0.2)
                            + (F.col("sum_tenths") / F.lit(10.0))
                            / F.col("n_feats")
                        )
                    )
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("score"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact_mean(
                F.sum("score"), F.count(F.lit(1)), sum_scale=6
            ).alias("mean_score"),
            exact_mean(
                F.sum(F.when(F.col("score") >= 0.5, 1).otherwise(0)),
                F.count(F.lit(1)),
                sum_scale=0,
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-doc mean
    log-likelihood ratio between a TARGET domain's hashed-unigram
    bag-of-words model (here lang='en') and the raw-corpus model,
    add-1 smoothed over 256 md5 buckets. The standard pretraining
    data-selection score — docs resembling the target domain rank
    high and get up-sampled. Plan shape: one token explode feeds one
    256-row bucket model (both domain counts in a single aggregate),
    per-bucket log-ratios are rounded-DECIMAL and BROADCAST back onto
    the token stream, then one per-doc aggregate and a top-15 — the
    model table is O(buckets), never O(vocabulary), which is the
    whole point of hashed DSIR at 100 TB."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.sampling import hash_bucket

    docs = spark.table("documents")
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split("text", " ")).alias("w"),
    ).withColumn("bucket", hash_bucket("w", buckets=256))
    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log((F.col("c_tgt") + 1) / (F.col("n_tgt") + 256))
            - F.log((F.col("c_raw") + 1) / (F.col("n_raw") + 256)),
            8,
        )
        .cast("decimal(18,8)")
        .alias("lr"),
    )
    per_doc = (
        toks.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            exact_mean(
                F.sum("lr"), F.count(F.lit(1)), sum_scale=8, out_scale=6
            ).alias("dsir_logratio"),
        )
    )
    return per_doc.orderBy(
        F.desc("dsir_logratio"), F.asc("doc_id")
    ).limit(15)


def sample_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch schedule for a data-constrained run (Muennighoff et al.
    2023 "Scaling Data-Constrained Language Models": repeating data
    beyond ~4 epochs returns ~nothing): given a token budget of 2×
    the corpus and a BALANCED per-source mixture spec, compute each
    source's available tokens, its integer target, the repeat factor
    target/available, the 4-epoch cap, and the unmet remainder the
    mixture owner must re-allocate. All integer arithmetic except the
    reported repeat ratio (rounded double) — engine-exact. One
    per-source aggregate + one broadcast totals row; the schedule
    itself is O(sources)."""
    register(spark, sf_dir, ("documents",))
    avail = (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.sum(F.floor(F.col("n_chars") / 4)).alias("available_tokens")
        )
    )
    totals = avail.agg(
        F.sum("available_tokens").alias("corpus_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    MAX_EPOCHS = 4
    return (
        avail.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "available_tokens",
            F.floor(
                (F.col("corpus_tokens") * 2) / F.col("n_sources")
            ).alias("target_tokens"),
        )
        .select(
            "source",
            "available_tokens",
            "target_tokens",
            # exact integer-arithmetic epoch ratio (tie class at 4 dp)
            exact_div_round(
                F.col("target_tokens"),
                F.col("available_tokens"),
                out_scale=4,
            ).alias("repeat_epochs"),
            F.least(
                F.col("target_tokens"),
                F.col("available_tokens") * MAX_EPOCHS,
            ).alias("effective_tokens"),
            F.greatest(
                F.col("target_tokens")
                - F.col("available_tokens") * MAX_EPOCHS,
                F.lit(0).cast("long"),
            ).alias("unmet_tokens"),
        )
        .orderBy("source")
    )


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the supplier↔part bipartite graph:
    Adamic–Adar (Σ 1/ln(deg) over common neighbors — rare shared
    parts carry more signal than commodity ones) plus the Jaccard
    companion, top-20 supplier pairs. The "which unlinked nodes
    behave alike" primitive behind recommendation/ER blocking. NO
    edge self-join: per-part supplier baskets expand i<j pairs as
    array math on one row (the j15 pattern), bounded by the per-part
    degree cap — parts with more than 32 suppliers are dropped before
    pairing (commodity neighbors contribute ≈0 weight and explode
    the pair count quadratically; the cap IS the at-scale posture —
    per-part degree here tracks |lineitem|/|parts|, constant in SF,
    so pair volume stays LINEAR in parts at any scale).
    Per-pair weights rounded-DECIMAL summed."""
    register(spark, sf_dir, ("lineitem",))
    CAP = 32
    sp = spark.table("lineitem").select("l_suppkey", "l_partkey").distinct()
    sdeg = sp.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("sd"))
    baskets = (
        sp.groupBy("l_partkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("supps"))
        .filter((F.size("supps") >= 2) & (F.size("supps") <= CAP))
        .select(
            "supps",
            F.round(F.lit(1.0) / F.log(F.size("supps").cast("double")), 8)
            .cast("decimal(18,8)")
            .alias("w"),
        )
    )
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("supps"),
                lambda x: F.transform(
                    F.col("supps"),
                    lambda y: F.struct(x.alias("s_a"), y.alias("s_b")),
                ),
            )
        ),
        lambda p: p["s_a"] < p["s_b"],
    )
    pairs = baskets.select(F.explode(pair_arr).alias("p"), "w").select(
        F.col("p.s_a").alias("s_a"), F.col("p.s_b").alias("s_b"), "w"
    )
    agg = pairs.groupBy("s_a", "s_b").agg(
        F.count(F.lit(1)).alias("common_parts"),
        F.round(F.sum("w"), 4).cast("double").alias("adamic_adar"),
    )
    da = sdeg.select(F.col("l_suppkey").alias("s_a"), F.col("sd").alias("da"))
    db = sdeg.select(F.col("l_suppkey").alias("s_b"), F.col("sd").alias("db"))
    return (
        agg.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .select(
            "s_a",
            "s_b",
            "common_parts",
            "adamic_adar",
            exact_div_round(
                F.col("common_parts"),
                F.col("da") + F.col("db") - F.col("common_parts"),
            ).alias("jaccard"),
        )
        .orderBy(F.desc("adamic_adar"), F.asc("s_a"), F.asc("s_b"))
        .limit(20)
    )


def embed_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedy top-5 from the 20 nearest neighbors of query vector
    vec_id=0, each pick maximizing 0.7·relevance − 0.3·max-similarity
    to the already-selected set — the diversity-aware retrieval/
    data-selection step a plain kNN can't express (near-duplicate
    neighbors crowd the top ranks). The candidate pool and its 20×20
    similarity matrix are computed ONCE and persisted; the k=5 greedy
    rounds are a bounded chain of 20-row plans (argmax + anti-join),
    no driver-side collect. All cosines rounded to 4 before any
    comparison; ties break on vec_id — engine-exact."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import cosine_similarity

    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(
                cosine_similarity("embedding", "qv", 64), 4
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(20)
    )
    # both loop invariants staged (lazy localCheckpoint), not
    # persist(): cached for the k argmax rounds, freed with the frame
    from pipelines_spark.plans.staging import stage as _cut_mmr

    cand = _cut_mmr(cand, eager=False)
    sims = (
        cand.select("vec_id", "embedding")
        .crossJoin(
            F.broadcast(
                cand.select(
                    F.col("vec_id").alias("b_id"),
                    F.col("embedding").alias("b_emb"),
                )
            )
        )
        .filter(F.col("vec_id") != F.col("b_id"))
        .select(
            F.col("vec_id").alias("a_id"),
            "b_id",
            F.round(
                cosine_similarity("embedding", "b_emb", 64), 4
            ).alias("sim"),
        )
    )
    sims = _cut_mmr(sims, eager=False)
    picks = (
        cand.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            "vec_id",
            "rel",
            F.lit(0.0).alias("redundancy"),
            F.round(F.lit(0.7) * F.col("rel"), 6).alias("mmr_score"),
        )
    )
    for r in range(2, 6):
        sel_ids = picks.select(F.col("vec_id").alias("b_id"))
        red = (
            sims.join(F.broadcast(sel_ids), "b_id")
            .groupBy("a_id")
            .agg(F.max("sim").alias("redundancy"))
        )
        nxt = (
            cand.select("vec_id", "rel")
            .join(picks.select("vec_id"), "vec_id", "left_anti")
            .join(red, F.col("vec_id") == F.col("a_id"))
            .select(
                "vec_id",
                "rel",
                "redundancy",
                F.round(
                    F.lit(0.7) * F.col("rel")
                    - F.lit(0.3) * F.col("redundancy"),
                    6,
                ).alias("mmr_score"),
            )
            .orderBy(F.desc("mmr_score"), F.asc("vec_id"))
            .limit(1)
            .select(F.lit(r).alias("rank"), "vec_id", "rel", "redundancy", "mmr_score")
        )
        # lineage-cut each 1-row pick (lazy localCheckpoint): picks_r
        # references picks_{r-1} twice (selected ids + anti-join), so
        # the raw tree doubles per round — 2^k copies for Catalyst to
        # re-analyze even though execution hits the persisted pool
        # (the SCALE.md "cache ≠ lineage cut" lesson)
        from pipelines_spark.plans.staging import stage as _cut

        picks = _cut(picks.unionByName(nxt), eager=False)
    return picks.select(
        "rank", "vec_id", F.col("rel").alias("relevance"), "redundancy", "mmr_score"
    ).orderBy("rank")


def a49_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit over the order-key stream ARRIVING in the
    lineitem feed: the 10 largest missing-key ranges (start, end,
    count) — the completeness check a pipeline runs when an upstream
    claims monotonically assigned keys but the feed drops some (here
    257 order keys never ship a line item; ref pipelines' capture-gap
    checks are the time-axis version, this is the key-axis one). NO
    global window
    over the ids: keys are range-bucketed (÷4096), internal gaps come
    from a lag window PARTITIONED by bucket, and cross-bucket gaps
    from a lag over the tiny bucket (min,max) summary — the only
    global ordering runs on |keyspace|/4096 rows. Adjacent-pair
    coverage is exact: within-bucket pairs + consecutive non-empty
    bucket boundaries partition all consecutive id pairs."""
    register(spark, sf_dir, ("lineitem",))
    B = 4096
    ids = (
        spark.table("lineitem")
        .select(F.col("l_orderkey").alias("id"))
        .distinct()
        .withColumn("b", F.floor(F.col("id") / B))
    )
    win = Window.partitionBy("b").orderBy("id")
    internal = (
        ids.withColumn("prev", F.lag("id").over(win))
        .filter(F.col("id") - F.col("prev") > 1)
        .select(
            (F.col("prev") + 1).alias("gap_start"),
            (F.col("id") - 1).alias("gap_end"),
        )
    )
    bsum = ids.groupBy("b").agg(
        F.min("id").alias("mn"), F.max("id").alias("mx")
    )
    wb = Window.orderBy("b")
    boundary = (
        bsum.withColumn("prev_mx", F.lag("mx").over(wb))
        .filter(F.col("mn") - F.col("prev_mx") > 1)
        .select(
            (F.col("prev_mx") + 1).alias("gap_start"),
            (F.col("mn") - 1).alias("gap_end"),
        )
    )
    return (
        internal.unionByName(boundary)
        .select(
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start") + 1).alias("n_missing"),
        )
        .orderBy(F.desc("n_missing"), F.asc("gap_start"))
        .limit(10)
    )


def a50_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprints for four tables in one
    frame: row count + the sum of 48-bit md5-prefix hashes of a
    canonical '|'-joined key serialization, mod 10¹⁸ — the
    replication/migration audit that says "these two copies hold the
    same rows" without sorting or moving either (sum is commutative,
    so the check is partition- and order-independent by
    construction; this repo's own DuckDB oracle is the second
    engine). Only integer/string/date columns enter the
    serialization — float formatting is not portable across engines
    and is excluded by design. One map-side hash projection + one
    single-row aggregate per table."""
    register(spark, sf_dir, ("orders", "customer", "lineitem", "events"))

    def leg(table: str, tag: str, cols: list) -> DataFrame:
        s = F.concat_ws(
            "|", F.lit(tag), *[F.col(c).cast("string") for c in cols]
        )
        h = F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("decimal(38,0)")
        return (
            spark.table(table)
            .select(h.alias("h"))
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("h").alias("s"))
            .select(
                F.lit(table).alias("table_name"),
                "n_rows",
                (F.col("s") % F.lit(10**18).cast("decimal(38,0)"))
                .cast("long")
                .alias("checksum"),
            )
        )

    return (
        leg("orders", "o", ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"])
        .unionByName(leg("customer", "c", ["c_custkey", "c_name", "c_nationkey"]))
        .unionByName(
            leg("lineitem", "l", ["l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"])
        )
        .unionByName(leg("events", "e", ["event_id", "user_id", "event_type"]))
        .orderBy("table_name")
    )


def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall 2010) per
    source — the length-independent lexical-diversity score (plain
    TTR collapses as docs grow; MATTR averages TTR over every
    sliding W=25-token window). Computed in CLOSED FORM, O(tokens)
    instead of O(tokens·W): Σ_windows distinct(window) = Σ_tokens
    #windows where that token occurrence is the first of its type,
    which for position p with previous same-type occurrence prev is
    |[max(p−W+1, prev+1, 1), min(p, K)]| — one lag over (doc, token)
    and pure integer arithmetic; the only division is the final
    per-doc mean. Docs shorter than W have no full window and drop
    out (documented; oracle replays the guard)."""
    register(spark, sf_dir, ("documents",))
    W = 25
    toks = spark.table("documents").select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("p"), "w")
    wprev = Window.partitionBy("doc_id", "w").orderBy("p")
    wdoc = Window.partitionBy("doc_id")
    per_tok = (
        toks.withColumn("prev", F.coalesce(F.lag("p").over(wprev), F.lit(0)))
        .withColumn("n", F.count(F.lit(1)).over(wdoc))
        .filter(F.col("n") >= W)
        .withColumn("k", F.col("n") - W + 1)
        .withColumn(
            "contrib",
            F.greatest(
                F.lit(0).cast("long"),
                F.least(F.col("p"), F.col("k"))
                - F.greatest(
                    F.col("p") - W + 1, F.col("prev") + 1, F.lit(1)
                )
                + 1,
            ),
        )
    )
    per_doc = per_tok.groupBy("doc_id", "source", "k").agg(
        F.sum("contrib").alias("s")
    ).select(
        "source",
        # exact integer-arithmetic MATTR (tie class at 8 dp)
        exact_div_round(F.col("s"), F.col("k") * W, out_scale=8)
        .cast("decimal(18,8)")
        .alias("mattr"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact_mean(
                F.sum("mattr"), F.count(F.lit(1)), sum_scale=8
            ).alias("mean_mattr"),
        )
        .orderBy("source")
    )


def a51_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on each event type's daily-revenue
    direction sequence: too FEW runs of consecutive up/down days
    means momentum/trend, too MANY means oscillation — the
    randomness check behind "is this daily series i.i.d. noise or
    structure worth modeling". Daily totals are exact DECIMAL sums;
    up/down signs and the run count are pure integer window
    arithmetic (zeros dropped, standard treatment); the z-score is
    the closed form (R−μ)/σ with μ=1+2n₁n₂/n, σ² =
    2n₁n₂(2n₁n₂−n)/(n²(n−1)). State per type is its calendar days."""
    register(spark, sf_dir, ("events",))
    daily = (
        spark.table("events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)")).alias("v"))
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    signs = (
        daily.withColumn("prev_v", F.lag("v").over(wt))
        .filter(F.col("prev_v").isNotNull() & (F.col("v") != F.col("prev_v")))
        .withColumn("sgn", F.when(F.col("v") > F.col("prev_v"), 1).otherwise(-1))
    )
    ws = Window.partitionBy("event_type").orderBy("day")
    runs = (
        signs.withColumn("prev_sgn", F.lag("sgn").over(ws))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).alias("n_up"),
            F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).alias("n_down"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("prev_sgn").isNotNull()
                        & (F.col("sgn") != F.col("prev_sgn")),
                        1,
                    ).otherwise(0)
                )
            ).alias("runs"),
        )
    )
    n = (F.col("n_up") + F.col("n_down")).cast("double")
    two_p = (F.lit(2.0) * F.col("n_up") * F.col("n_down")).cast("double")
    mu = F.lit(1.0) + two_p / n
    sigma = F.sqrt(two_p * (two_p - n) / (n * n * (n - F.lit(1.0))))
    # degenerate-sequence guard: an all-up or all-down type (n_up or
    # n_down = 0 makes sigma 0) or one with < 2 signed days has no
    # defined statistic — emit NULL explicitly instead of the
    # NaN/divide-by-zero both engines would otherwise share
    z = F.when(
        (F.col("n_up") == 0) | (F.col("n_down") == 0) | (n < 2),
        F.lit(None).cast("double"),
    ).otherwise(F.round((F.col("runs") - mu) / sigma, 4))
    return runs.select(
        "event_type",
        "n_up",
        "n_down",
        "runs",
        z.alias("z_score"),
    ).orderBy("event_type")


def w15_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day Pearson correlation between each event type's
    daily volume and the all-types daily total — the co-movement
    monitor behind "did this feed decouple from overall traffic this
    week". All six sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²)
    are INTEGER window sums over per-day counts, so the window pass
    is exact and partition-order-independent; the one double division
    happens per output row. Windows run over the per-(type, day)
    rollup (≤ |types|·|days| rows), never over events; the daily
    total is a ~|days|-row broadcast."""
    register(spark, sf_dir, ("events",))
    daily = (
        spark.table("events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = daily.groupBy("day").agg(F.sum("x").alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    j = daily.join(F.broadcast(tot), "day")
    stats = j.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    ).filter(F.col("n") == 14)
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return stats.select(
        "event_type",
        "day",
        F.round(num / den, 4).alias("corr_with_total"),
    ).orderBy("event_type", "day")


def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training-data scheduling: documents are
    staged easiest-first by a difficulty proxy (n_chars — swap for a
    model score in production), split into 10 difficulty stages, and
    deterministically shuffled WITHIN each stage by the repo's md5
    hash convention (reproducible across engines and reruns — the
    anti-clumping shuffle curriculum training needs so a stage isn't
    consumed in source order). Output: one curriculum row per doc with
    its stage and global position — all integer arithmetic, no
    rounding surface.

    Scale note: ntile/global row_number imply a total sort — correct
    and cheap at catalogue granularity (one row per doc of METADATA,
    not text). At 100 TB-corpus catalogue sizes, swap the ntile for
    a40_equidepth_histogram's broadcast-boundary staging and write
    per-stage files; the within-stage hash order is embarrassingly
    parallel either way. Reference spec: the deterministic md5
    split/shard discipline (llm/sampling.py) applied to ordering."""
    register(spark, sf_dir, ("documents",))
    wd = Window.orderBy("n_chars", "doc_id")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hash_ord")
    )
    staged = spark.table("documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.ntile(10).over(wd).alias("stage"),
        h,
    )
    wp = Window.orderBy("stage", "hash_ord", "doc_id")
    return staged.select(
        "doc_id",
        "n_chars",
        F.col("stage").cast("long").alias("stage"),
        "hash_ord",
        F.row_number().over(wp).cast("long").alias("curriculum_pos"),
    ).orderBy("curriculum_pos")


def embed_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of PQ/ADC byte-code scoring against brute
    force — the third leg of the ANN audit family (SRP bucketing:
    embed_srp_recall_audit; dimension cut: embed_truncated_recall;
    16× byte-code quantization: this). Composes the two already
    oracle-checked legs (brute_force_topk ∧ pq_adc_topk, identical
    configs to embed_knn_topk / embed_pq_adc) and joins their top-5
    lists per query. At 100 TB you run the audit on a query SAMPLE —
    the brute-force leg is the audit's cost, and 50 queries price the
    quantization as well as 5000 (same posture as the SRP audit).

    Measured: mean recall@5 ≈ 0.15 at sf0.01, ≈ 0.06 at sf0.1 — the
    synthetic corpus is deliberately near-isotropic (the PCA query's
    documented property), so a 4×16 codebook has no cluster structure
    to exploit and ADC ranking is weak. That NUMBER is the point: the
    audit is what tells you this index config can't ship, before a
    rollout does."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import pq_adc_topk

    emb = spark.table("embeddings")
    qs = emb.filter(F.col("vec_id") < 50)
    exact = brute_force_topk(
        emb, qs, id_col="vec_id", vec_col="embedding", k=5, dim=64
    ).select("query_id", "neighbor_id")
    pq5 = pq_adc_topk(
        emb, qs, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")
    return (
        exact.join(
            pq5.withColumn("_hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits"))
        .select(
            "query_id",
            "hits",
            # exact integer-arithmetic recall ratio (tie class)
            exact_div_round(F.col("hits"), F.lit(5), out_scale=4).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


def embed_pq_adc_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search over a TRAINED codebook at the config the audit
    family says can ship (r11 verdict #1). The r11
    embed_pq_recall_audit priced the hash-sampled 4×16 codebook at
    recall@5 ≈ 0.06 (sf0.1) — unshippable. The measured sweep behind
    this round's config choice (sf0.1, 50 audit queries):

    ========  =========  =========  =========
    config    untrained  trained    bits/vec
    ========  =========  =========  =========
    4×16      0.064      0.044      16
    8×16      0.100      0.156      32
    16×16     0.216      0.304      64
    32×16     0.532 (trained, iters=2)  128
    ========  =========  =========  =========

    Two findings: (a) at the original 4×16 config training changes
    nothing beyond noise — 16-bit codes cannot rank a near-isotropic
    64-dim corpus no matter how good the codewords are, so CAPACITY
    was the binding constraint; (b) once capacity is adequate,
    per-subspace Lloyd's training is worth ~1.4–1.6× recall over
    hash-sampled codewords at the same storage. Ships 32 subspaces ×
    16 codes (4-bit codewords → 16 bytes/vector, 16× compression),
    trained 2 Lloyd iterations (``pq_codebook_trained``): squared-L2
    assign rounded to 6 dp before argmin, exact DECIMAL(38,0)
    quantized-mean updates, so the DuckDB oracle replays training
    bit-for-bit. The encode/ADC search plan is ``pq_adc_topk``'s,
    unchanged — the trained codebook drops in via the ``codebook``
    seam."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import pq_adc_topk, pq_codebook_trained

    emb = spark.table("embeddings")
    cb = pq_codebook_trained(
        emb, id_col="vec_id", vec_col="embedding", n_sub=32, n_codes=16,
        iters=2,
    )
    return pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 50), id_col="vec_id",
        vec_col="embedding", k=5, n_sub=32, n_codes=16, codebook=cb,
    ).select(
        "query_id", "neighbor_id", "adc_dot",
        F.col("rank").cast("long").alias("rank"),
    )


def embed_pq_trained_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the TRAINED 32×16 PQ/ADC index
    (embed_pq_adc_trained) against brute force — the re-run of the
    r11 audit against the config it motivated. Same audit plan as
    embed_pq_recall_audit (brute_force_topk ∧ pq_adc_topk, join the
    top-5 lists); only the codebook under audit changed. Measured:
    mean recall@5 ≈ 0.53 at sf0.1 (vs 0.06 for the untrained 4×16
    the r11 audit red-flagged) — the audit family both caught the
    bad config and priced its replacement."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import pq_adc_topk, pq_codebook_trained

    emb = spark.table("embeddings")
    qs = emb.filter(F.col("vec_id") < 50)
    exact = brute_force_topk(
        emb, qs, id_col="vec_id", vec_col="embedding", k=5, dim=64
    ).select("query_id", "neighbor_id")
    cb = pq_codebook_trained(
        emb, id_col="vec_id", vec_col="embedding", n_sub=32, n_codes=16,
        iters=2,
    )
    pq5 = pq_adc_topk(
        emb, qs, id_col="vec_id", vec_col="embedding", k=5, n_sub=32,
        n_codes=16, codebook=cb,
    ).select("query_id", "neighbor_id")
    return (
        exact.join(
            pq5.withColumn("_hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits"))
        .select(
            "query_id",
            "hits",
            exact_div_round(F.col("hits"), F.lit(5), out_scale=4).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


def pretrain_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining-data composition (r11 verdict #5):
    ingest → quality/lang gates → classifier gate → source cap →
    exact dedup → LM-entropy gate → span-dedup gate → LSH near-dup
    canonical (all eight stages of llm/curation.py::curate_corpus at
    BENCH_CONFIG_SCORED — each individually driver-green) → train
    split → curriculum ordering over the SURVIVORS (difficulty =
    n_tokens ntile(10), deterministic md5 within-stage shuffle — the
    sample_curriculum_order discipline applied post-curation) →
    token shards packed IN CURRICULUM ORDER (shard boundary = every
    shard_tokens cumulative tokens along the curriculum, so a shard
    is a contiguous curriculum segment — what a data loader streams).

    The pieces are all individually green; this row exists because
    stage-contract drift hides BETWEEN stages (a renamed column, a
    split applied before dedup instead of after, a shard packed on
    the wrong ordering) — the oracle replays the entire chain as one
    CTE cascade on the same config constant, so any seam drift is a
    hash mismatch.

    Scale: stages 1–8 carry curate_corpus's documented budgets; the
    curriculum tail adds one catalogue-granularity total sort
    (metadata rows, not text — the sample_curriculum_order posture,
    incl. the a40-style broadcast-boundary swap at 100 TB) and the
    shard cumsum rides the same sort. No new shuffle class."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.curation import (
        BENCH_CONFIG_SCORED,
        CurationConfig,
        curate_corpus,
    )

    docs = spark.table("documents").select("doc_id", "text", "source")
    curated, _ = curate_corpus(
        docs, CurationConfig(**BENCH_CONFIG_SCORED), collect_stats=False
    )
    train = curated.filter(F.col("split") == "train")
    wd = Window.orderBy("n_tokens", "doc_id")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hash_ord")
    )
    staged = train.select(
        "doc_id",
        "quality",
        "detected_lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("component_id").cast("long").alias("component_id"),
        F.ntile(10).over(wd).alias("stage"),
        h,
    )
    wp = Window.orderBy("stage", "hash_ord", "doc_id")
    wcum = wp.rowsBetween(Window.unboundedPreceding, -1)
    return staged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "quality",
        "detected_lang",
        "n_tokens",
        "component_id",
        F.col("stage").cast("long").alias("stage"),
        "hash_ord",
        F.row_number().over(wp).cast("long").alias("curriculum_pos"),
        F.floor(
            F.coalesce(F.sum("n_tokens").over(wcum), F.lit(0))
            / F.lit(float(BENCH_CONFIG_SCORED["shard_tokens"]))
        )
        .cast("long")
        .alias("curriculum_shard"),
    ).orderBy("curriculum_pos")


def embed_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-TRAINED IVF-PQ — the FAISS production composition with
    both halves trained: Lloyd's coarse centroids (kmeans_train, 8
    cells × 2 iterations — the embed_ivf_kmeans arithmetic) bound
    WHICH candidates are scored (nprobe=2), and the trained 32×16 PQ
    codebook (pq_codebook_trained — the audit-approved config from
    embed_pq_adc_trained) bounds storage and scoring. Composes the
    two trained seams of ivf_pq_topk; the probe/encode/ADC plan is
    byte-for-byte the hash-sampled embed_ivf_pq's. The oracle replays
    BOTH training loops (cosine k-means CTEs ∘ squared-L2 PQ CTEs)
    plus the composition — the deepest replayed chain in the
    registry."""
    register(spark, sf_dir, ("embeddings",))
    from pipelines_spark.llm.similarity import (
        ivf_pq_topk,
        kmeans_train,
        pq_codebook_trained,
    )

    emb = spark.table("embeddings")
    cells = kmeans_train(
        emb, id_col="vec_id", vec_col="embedding", k=8, iters=2,
    )
    cb = pq_codebook_trained(
        emb, id_col="vec_id", vec_col="embedding", n_sub=32, n_codes=16,
        iters=2,
    )
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 20), id_col="vec_id",
        vec_col="embedding", k=5, nprobe=2, n_sub=32, n_codes=16,
        codebook=cb, cells=cells,
    ).select(
        "query_id", "neighbor_id", "adc_dot",
        F.col("rank").cast("long").alias("rank"),
    )


def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH-banding recall over the actual corpus
    (llm/dedup.py::minhash_band_audit) — the dedup-family analog of
    the ANN recall audits: one row per TRUE near-dup pair (exact
    inverted-index Jaccard ≥ 0.5) with its jaccard, how many of the
    8 LSH bands collide under the md5 minhash family, and whether the
    banding would have caught it at all. Measured here: recall 1.0 at
    sf0.01/sf0.1 (25/256 true pairs, all at jaccard ≥ 0.75 where
    theory gives P(catch) ≥ 0.99 for r=4, b=8) — the number the
    dedup operators' exact-set oracles silently rely on, now carried
    explicitly; a corpus with borderline (s≈0.5) dups would show
    caught=false rows here long before production missed them."""
    register(spark, sf_dir, ("documents",))
    from pipelines_spark.llm.dedup import minhash_band_audit

    return minhash_band_audit(
        spark.table("documents"), id_col="doc_id", text_col="text",
        shingle_words=3, num_hashes=32, bands=8, threshold=0.5,
    )


def a54_bh_drift_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over per-type drift tests — the
    multiple-testing discipline a fleet of drift monitors needs (at
    100 TB you watch hundreds of columns; without FDR control the
    per-test α guarantees a false alarm every run). Per event type, a
    two-sample KS test on daily totals (first 15 days = reference):
    the D statistic is the exact integer rational
    max|cum_ref·n_cur − cum_cur·n_ref|/(n_ref·n_cur); the asymptotic
    p-value 2·exp(−2·D²·n₁n₂/(n₁+n₂)) is continuous (exp) and is
    QUANTIZED to an 8-dp DECIMAL before any ranking or comparison
    (the a35 round-before-compare convention: a last-ulp cross-engine
    exp() difference cannot reorder ranks or flip a reject). The BH
    step-up rule then runs in EXACT arithmetic: reject all types with
    rank ≤ max{i : p₈·(20·m) ≤ i} for α = 0.05 (p₈·20m ≤ i ⇔ p ≤
    i·α/m with both sides exact decimals). Bounded m-row windows; one
    shuffle on event_type."""
    register(spark, sf_dir, ("events",))
    daily = (
        spark.table("events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)")).alias("v"))
    )
    cut = daily.agg(F.date_add(F.min("day"), 15).alias("_cut"))
    marked = daily.crossJoin(F.broadcast(cut)).select(
        "event_type",
        "v",
        F.when(F.col("day") < F.col("_cut"), 1).otherwise(0).alias("_is_ref"),
    )
    # group per DISTINCT value first (the ks_drift discipline): the
    # cumulative ECDF sums then run over a total order — tied daily
    # totals cannot make the partial sums engine/partition-dependent
    counts = marked.groupBy("event_type", "v").agg(
        F.sum("_is_ref").alias("_nr"),
        F.sum(F.lit(1) - F.col("_is_ref")).alias("_nc"),
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        F.sum("_nr").over(wv).alias("_c_ref"),
        F.sum("_nc").over(wv).alias("_c_cur"),
        F.sum("_nr").over(wt).alias("_n_ref"),
        F.sum("_nc").over(wt).alias("_n_cur"),
    )
    per_type = cum.groupBy("event_type").agg(
        F.max(
            F.abs(
                F.col("_c_ref") * F.col("_n_cur")
                - F.col("_c_cur") * F.col("_n_ref")
            )
        ).alias("d_num"),
        F.max("_n_ref").alias("n_ref"),
        F.max("_n_cur").alias("n_cur"),
    )
    # p = 2·exp(−2·D²·n₁n₂/(n₁+n₂)) with D = d_num/(n₁·n₂):
    # −2·d_num²/(n₁·n₂·(n₁+n₂)) — exact integer ratio into exp
    arg = (
        F.lit(-2.0)
        * (F.col("d_num") * F.col("d_num")).cast("double")
        / (
            F.col("n_ref") * F.col("n_cur") * (F.col("n_ref") + F.col("n_cur"))
        ).cast("double")
    )
    scored = per_type.select(
        "event_type",
        exact_div_round(F.col("d_num"), F.col("n_ref") * F.col("n_cur"),
                        out_scale=6).alias("d_stat"),
        # round-ok: quantize-before-compare (exp is continuous; the
        # 8-dp decimal is what every downstream rank/compare sees)
        F.round(F.least(F.lit(2.0) * F.exp(arg), F.lit(1.0)), 8)
        .cast("decimal(18,8)")
        .alias("_p8"),
    )
    wr = Window.orderBy("_p8", "event_type")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.select(
        "event_type",
        "d_stat",
        "_p8",
        F.row_number().over(wr).alias("p_rank"),
        F.count(F.lit(1)).over(wall).alias("_m"),
    )
    k = F.max(
        F.when(
            F.col("_p8") * (20 * F.col("_m")) <= F.col("p_rank"),
            F.col("p_rank"),
        ).otherwise(F.lit(0))
    ).over(wall)
    return (
        ranked.select(
            "event_type",
            "d_stat",
            F.col("_p8").cast("double").alias("p_value"),
            F.col("p_rank").cast("long").alias("p_rank"),
            (F.col("p_rank") <= k).alias("bh_reject"),
        )
        .orderBy("p_rank")
    )


QUERIES = {
    # Driver samples the FIRST 50 keys each round. Rotation policy:
    # oldest-driver-checked queries lead; never-driver-checked queries
    # outrank everything. Since round 11 the head window is applied
    # PROGRAMMATICALLY via _HEAD_ROTATION below (computed each round
    # from the CORRECTNESS_r*.json freshness histogram) — the literal
    # order here is historical and no longer load-bearing.
    # --- last driver-checked r3 (oldest first) ---
    "q16_part_supplier_counts": q16_part_supplier_counts,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_bracket_predicates": q19_bracket_predicates,
    "q20_nested_in_chain": q20_nested_in_chain,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "q2_min_per_group_subquery": q2_min_per_group_subquery,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "sample_split_counts": sample_split_counts,
    "sample_stratified_counts": sample_stratified_counts,
    "sample_token_shards": sample_token_shards,
    "scd2_order_history": scd2_order_history,
    "text_bm25_search": text_bm25_search,
    "text_boilerplate_stats": text_boilerplate_stats,
    "text_chunk_windows": text_chunk_windows,
    "text_decontamination": text_decontamination,
    "text_lang_mismatch": text_lang_mismatch,
    "text_pii_redaction": text_pii_redaction,
    "text_repetition_stats": text_repetition_stats,
    "text_top_terms": text_top_terms,
    "w7_rank_gauntlet": w7_rank_gauntlet,
    # --- last driver-checked r4 ---
    "a36_kmv_by_type": a36_kmv_by_type,
    # --- last driver-checked r5 ---
    "a19_stale_feeds": a19_stale_feeds,
    "embed_ivf_pq": embed_ivf_pq,
    # --- last driver-checked r6 ---
    "a18_heavy_hitter_users": a18_heavy_hitter_users,
    "a20_cohort_retention": a20_cohort_retention,
    "a21_kmv_distinct": a21_kmv_distinct,
    "a22_funnel_conversion": a22_funnel_conversion,
    "a23_value_outliers": a23_value_outliers,
    "a24_mode_per_group": a24_mode_per_group,
    "a25_column_profile": a25_column_profile,
    "a26_benford_digits": a26_benford_digits,
    "a27_seasonal_anomaly": a27_seasonal_anomaly,
    "a28_cms_frequencies": a28_cms_frequencies,
    "a29_hll_distinct": a29_hll_distinct,
    "a30_hll_by_type": a30_hll_by_type,
    "a31_sampled_percentiles": a31_sampled_percentiles,
    "a32_psi_drift": a32_psi_drift,
    "a33_hll_rolling_distinct": a33_hll_rolling_distinct,
    "a34_kmv_set_ops": a34_kmv_set_ops,
    "a35_mad_outliers": a35_mad_outliers,
    "dedup_containment": dedup_containment,
    "dedup_containment_capped": dedup_containment_capped,
    "dedup_ngram_capped": dedup_ngram_capped,
    "dedup_semantic": dedup_semantic,
    "embed_pq_adc": embed_pq_adc,
    # ================= end of the r10 head-50 window =================
    "embed_srp_multiprobe": embed_srp_multiprobe,
    "graph_hierarchy_rollup": graph_hierarchy_rollup,
    "graph_khop_reach": graph_khop_reach,
    "graph_pagerank": graph_pagerank,
    "graph_triangles": graph_triangles,
    "j13_fuzzy_name_match": j13_fuzzy_name_match,
    "j14_max_concurrent_orders": j14_max_concurrent_orders,
    "j15_part_cooccurrence": j15_part_cooccurrence,
    "j16_asof_tolerance": j16_asof_tolerance,
    "j17_lateral_topk": j17_lateral_topk,
    "o12_variant_props": o12_variant_props,
    "o13_token_positions": o13_token_positions,
    "o14_snapshot_diff": o14_snapshot_diff,
    "q12_priority_shipping": q12_priority_shipping,
    "sample_mixture_rates": sample_mixture_rates,
    "sample_weighted_topk": sample_weighted_topk,
    "t3_sliding_window": t3_sliding_window,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_top_tokens": text_bpe_top_tokens,
    "text_dup_spans": text_dup_spans,
    "text_ngram_entropy": text_ngram_entropy,
    "text_tfidf_pairs": text_tfidf_pairs,
    "w10_time_weighted_avg": w10_time_weighted_avg,
    "w11_last_touch_attribution": w11_last_touch_attribution,
    "w12_cumulative_new_users": w12_cumulative_new_users,
    "w13_ses_forecast": w13_ses_forecast,
    "w8_resample_interpolate": w8_resample_interpolate,
    "w9_activity_islands": w9_activity_islands,
    # --- driver-checked r7 ---
    "a11_colwise_max": a11_colwise_max,
    "a12_rollup_revenue": a12_rollup_revenue,
    "a1_relation_check": a1_relation_check,
    "a2_group_any_flag": a2_group_any_flag,
    "a3_latest_event_per_user": a3_latest_event_per_user,
    "a4_nested_content": a4_nested_content,
    "a4b_grouped_content": a4b_grouped_content,
    "a6_distinct_segments": a6_distinct_segments,
    "a7_hourly_event_counts": a7_hourly_event_counts,
    "dedup_embed_cosine": dedup_embed_cosine,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "embed_knn_topk": embed_knn_topk,
    "embed_srp_ann": embed_srp_ann,
    "f1_filter_expressions": f1_filter_expressions,
    "f2_null_filter": f2_null_filter,
    "f3_capture_window": f3_capture_window,
    "f6_pruned_incremental_scan": f6_pruned_incremental_scan,
    "j10_composite_update_detection": j10_composite_update_detection,
    "j1_orders_enriched": j1_orders_enriched,
    "j2_full_outer_nation_flows": j2_full_outer_nation_flows,
    "j3_customers_without_orders": j3_customers_without_orders,
    "j5_capture_gaps": j5_capture_gaps,
    "j7_shipdate_range_join": j7_shipdate_range_join,
    "j9_idw_interpolation": j9_idw_interpolation,
    "k4_partition_derivation": k4_partition_derivation,
    "o1_multikey_sort": o1_multikey_sort,
    "o5_union_priorities": o5_union_priorities,
    "o6_pivot_event_types": o6_pivot_event_types,
    "o7_json_props_extract": o7_json_props_extract,
    "o9_except_nations": o9_except_nations,
    "p2_rename_projection": p2_rename_projection,
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "revenue_by_month": revenue_by_month,
    "scalar_gauntlet": scalar_gauntlet,
    "t1_tumbling_5min": t1_tumbling_5min,
    "t2_incremental_window": t2_incremental_window,
    "text_fingerprints": text_fingerprints,
    "text_langid_counts": text_langid_counts,
    "text_quality_by_source": text_quality_by_source,
    "text_token_stats": text_token_stats,
    "top_customers_by_revenue": top_customers_by_revenue,
    "w4_rolling_hourly_sum": w4_rolling_hourly_sum,
    "w5_lag_event_gap": w5_lag_event_gap,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "w6_sessionize": w6_sessionize,
    # --- driver-checked r8 ---
    "funnel_windowed_conversion": funnel_windowed_conversion,
    "trend_by_event_type": trend_by_event_type,
    "profile_documents": profile_documents,
    "w12_event_transitions": w12_event_transitions,
    "funnel_time_to_convert": funnel_time_to_convert,
    "j18_interval_overlap": j18_interval_overlap,
    "a37_weighted_median": a37_weighted_median,
    "a38_gini_concentration": a38_gini_concentration,
    "graph_communities": graph_communities,
    "embed_knn_graph": embed_knn_graph,
    "sample_source_cap": sample_source_cap,
    "j19_bloom_semi_reduction": j19_bloom_semi_reduction,
    "a39_cusum_changepoints": a39_cusum_changepoints,
    "trend_theilsen_by_type": trend_theilsen_by_type,
    "graph_modularity": graph_modularity,
    "a40_equidepth_histogram": a40_equidepth_histogram,
    "embed_knn_graph_capped": embed_knn_graph_capped,
    "curation_pipeline": curation_pipeline,
    "curation_funnel_stats": curation_funnel_stats,
    "dedup_incremental_batch": dedup_incremental_batch,
    "profile_documents_approx": profile_documents_approx,
    "dedup_prefix_jaccard": dedup_prefix_jaccard,
    "a41_cms_join_size": a41_cms_join_size,
    "text_pmi_collocations": text_pmi_collocations,
    "search_hybrid_rrf": search_hybrid_rrf,
    "embed_truncated_recall": embed_truncated_recall,
    "o15_multiset_ops": o15_multiset_ops,
    "text_heaps_law": text_heaps_law,
    "curation_pipeline_full": curation_pipeline_full,
    "curation_funnel_full": curation_funnel_full,
    "a13_value_percentiles": a13_value_percentiles,
    "a14_cube_revenue": a14_cube_revenue,
    "a15_salted_event_totals": a15_salted_event_totals,
    "a16_value_histogram": a16_value_histogram,
    "a17_grouping_sets_revenue": a17_grouping_sets_revenue,
    "dedup_canonical_selection": dedup_canonical_selection,
    "dedup_clusters": dedup_clusters,
    "embed_ivf_ann": embed_ivf_ann,
    "embed_ivf_kmeans": embed_ivf_kmeans,
    "embed_quantized_knn": embed_quantized_knn,
    "j11_asof_enrichment": j11_asof_enrichment,
    "j12_asof_forward": j12_asof_forward,
    "j8_geo_stations": j8_geo_stations,
    "j8b_best_overlap": j8b_best_overlap,
    "o10_unpivot": o10_unpivot,
    "o11_intersect_custkeys": o11_intersect_custkeys,
    "q10_returned_items": q10_returned_items,
    "q11_important_suppliers": q11_important_suppliers,
    "q13_order_count_distribution": q13_order_count_distribution,
    # --- driver-checked r9 (the freshest cohort; back of the line) ---
    "text_readability_scores": text_readability_scores,
    "text_ngram_novelty": text_ngram_novelty,
    "text_quality_linear": text_quality_linear,
    "text_dsir_weights": text_dsir_weights,
    "sample_epoch_schedule": sample_epoch_schedule,
    "graph_adamic_adar": graph_adamic_adar,
    "embed_mmr_select": embed_mmr_select,
    "a49_id_gap_audit": a49_id_gap_audit,
    "a50_table_checksums": a50_table_checksums,
    "text_mattr_diversity": text_mattr_diversity,
    "a51_runs_test": a51_runs_test,
    "w15_rolling_corr": w15_rolling_corr,
    "curation_pipeline_scored": curation_pipeline_scored,
    "curation_funnel_scored": curation_funnel_scored,
    "embed_srp_recall_audit": embed_srp_recall_audit,
    "dedup_cluster_audit": dedup_cluster_audit,
    "embed_pca_power_iteration": embed_pca_power_iteration,
    "text_keyword_rake": text_keyword_rake,
    "text_burstiness": text_burstiness,
    "a52_ab_experiment_health": a52_ab_experiment_health,
    "text_js_divergence_sources": text_js_divergence_sources,
    "sample_neyman_allocation": sample_neyman_allocation,
    "a53_seasonality_strength": a53_seasonality_strength,
    "t4_session_window": t4_session_window,
    "text_zipf_fit": text_zipf_fit,
    "sample_rendezvous_shards": sample_rendezvous_shards,
    "a42_ks_drift": a42_ks_drift,
    "a43_cramers_v": a43_cramers_v,
    "embed_bitext_margin": embed_bitext_margin,
    "embed_bitext_margin_bucketed": embed_bitext_margin_bucketed,
    "sample_sequence_packing": sample_sequence_packing,
    "trend_mann_kendall": trend_mann_kendall,
    "sample_quota_allocation": sample_quota_allocation,
    "text_source_overlap": text_source_overlap,
    "text_decontamination_fuzzy": text_decontamination_fuzzy,
    "sample_temperature_mixture": sample_temperature_mixture,
    "a44_acf_daily": a44_acf_daily,
    "embed_label_cohesion": embed_label_cohesion,
    "a45_fk_integrity": a45_fk_integrity,
    "text_fightin_words": text_fightin_words,
    "j20_hashed_key_join": j20_hashed_key_join,
    "w14_rolling_median": w14_rolling_median,
    "graph_assortativity": graph_assortativity,
    "a47_winsorized_stats": a47_winsorized_stats,
    "a48_column_entropy": a48_column_entropy,
    "q23_revenue_deciles": q23_revenue_deciles,
    "graph_kcore": graph_kcore,
    "er_part_name_clusters": er_part_name_clusters,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    # --- r11 additions ---
    "sample_curriculum_order": sample_curriculum_order,
    "a54_bh_drift_fdr": a54_bh_drift_fdr,
    "embed_pq_recall_audit": embed_pq_recall_audit,
    # --- r12 additions ---
    "embed_pq_adc_trained": embed_pq_adc_trained,
    "embed_pq_trained_recall_audit": embed_pq_trained_recall_audit,
    "pretrain_composition": pretrain_composition,
    "dedup_lsh_recall_audit": dedup_lsh_recall_audit,
    "embed_ivf_pq_trained": embed_ivf_pq_trained,
}

#: Round-12 head-50 (r11 verdict #4): never-driver-checked queries
#: outrank everything (the three r12 additions lead), then the FULL
#: r7-stale cohort (the 31 queries whose last green driver row is
#: r7, computed from the CORRECTNESS_r01..r11 artifacts), then the
#: 16 stalest of the r8 cohort (ranked by total-times-driver-
#: checked, then first-checked round, then name), filling the window
#: to exactly 50. After this round no registered query's last green
#: driver row predates r8 — the two-window freshness invariant.
#: (5 additions + 31 r7 + the 14 stalest r8; the 15th/16th-stalest
#: r8 rows — funnel_time_to_convert, funnel_windowed_conversion —
#: rotate out to make room for the additions.)
_HEAD_ROTATION = [
    # --- never driver-checked (r12 additions) ---
    "embed_pq_adc_trained",
    "embed_pq_trained_recall_audit",
    "pretrain_composition",
    "dedup_lsh_recall_audit",
    "embed_ivf_pq_trained",
    # --- last driver-checked r7 (all 31) ---
    "f3_capture_window",
    "f6_pruned_incremental_scan",
    "j10_composite_update_detection",
    "j1_orders_enriched",
    "j2_full_outer_nation_flows",
    "j3_customers_without_orders",
    "j5_capture_gaps",
    "j7_shipdate_range_join",
    "j9_idw_interpolation",
    "k4_partition_derivation",
    "o1_multikey_sort",
    "o5_union_priorities",
    "o6_pivot_event_types",
    "o7_json_props_extract",
    "o9_except_nations",
    "p2_rename_projection",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q6_forecast_revenue",
    "revenue_by_month",
    "scalar_gauntlet",
    "t1_tumbling_5min",
    "t2_incremental_window",
    "text_fingerprints",
    "text_langid_counts",
    "text_quality_by_source",
    "text_token_stats",
    "top_customers_by_revenue",
    "w4_rolling_hourly_sum",
    "w5_lag_event_gap",
    # --- stalest 14 of the r8 cohort ---
    "a37_weighted_median",
    "a38_gini_concentration",
    "a39_cusum_changepoints",
    "a40_equidepth_histogram",
    "a41_cms_join_size",
    "curation_funnel_full",
    "curation_funnel_stats",
    "curation_pipeline",
    "curation_pipeline_full",
    "dedup_incremental_batch",
    "dedup_prefix_jaccard",
    "embed_knn_graph",
    "embed_knn_graph_capped",
    "embed_truncated_recall",
]

QUERIES = {
    **{k: QUERIES[k] for k in _HEAD_ROTATION},
    **{k: v for k, v in QUERIES.items() if k not in _HEAD_ROTATION},
}
