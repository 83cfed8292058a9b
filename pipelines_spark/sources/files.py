"""File sources with imposed schemas and name normalization.

Reference shapes (SURVEY §2.1): headerless ``;``-delimited files with
config-imposed column names (S7,
pipelines/rj_smtr/br_rj_riodejaneiro_rdo/tasks.py:178-205), fixed-width
files (S8, pd.read_fwf), JSON record payloads (S16), and the general
rule that every inbound schema passes through column-name
normalization (P3).

All readers are distributed Spark file scans — a 100 TB directory of
CSVs splits across executors automatically; nothing here reads on the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelines_spark.llm.dedup import _attach_staging
from pipelines_spark.naming import normalize_columns


def read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan + column-name normalization (metadata-only)."""
    return normalize_columns(spark.read.parquet(path))


def read_csv_imposed_schema(
    spark: SparkSession,
    path: str,
    columns: list[str],
    *,
    sep: str = ";",
    header: bool = False,
) -> DataFrame:
    """Headerless delimited scan with imposed column names; all
    columns string-typed (staging contract)."""
    schema = " ".join(f"`{c}` STRING," for c in columns).rstrip(",")
    df = spark.read.csv(path, sep=sep, header=header, schema=schema)
    return normalize_columns(df)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: dict[str, tuple[int, int]],
) -> DataFrame:
    """Fixed-width scan: ``spark.read.text`` + substring projections.

    ``colspecs`` maps column name → (start, end) 0-based half-open
    character offsets, pandas ``read_fwf`` style.
    """
    raw = spark.read.text(path)
    cols = [
        F.trim(F.substring("value", start + 1, end - start)).alias(name)
        for name, (start, end) in colspecs.items()
    ]
    return normalize_columns(raw.select(*cols))


def read_json_records(
    spark: SparkSession,
    path: str,
    *,
    multiline: bool = False,
) -> DataFrame:
    """JSON records scan (API payload dumps saved verbatim to the raw
    zone, reference save_raw_local_func rj_smtr/utils.py:602-639)."""
    return normalize_columns(spark.read.option("multiLine", multiline).json(path))


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    file_format: str = "csv",
    quarantine_path: str | None = None,
    options: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Scan messy CSV/JSON splitting rows into (good, quarantined)
    instead of failing the job or silently nulling bad rows.

    The reference's captures regularly hit malformed lines (stray
    delimiters, truncated uploads, encoding junk) and either drop or
    crash on them inside per-file pandas loops. The Spark-native
    contract: PERMISSIVE mode parks each unparseable row's raw text in
    a corrupt-record column; ``good`` is the clean typed frame,
    ``bad`` carries (raw_record, source_file) for triage. At 100 TB a
    single bad byte must never kill a 1000-executor job, and the bad
    rows must stay AUDITABLE, not vanish.

    If ``quarantine_path`` is given the bad rows are also appended
    there (parquet) before returning — the dead-letter zone.

    The scan is cached once for the two filtered branches and recorded
    on ``good``: whoever consumes ``good`` releases it with
    ``llm/dedup.py::release_staging(good)`` once its write is done, as
    ``flows.run_dump_flow`` and ``run_dump_flow_transactional`` do. A
    caller who re-reads ``bad`` after that re-parses the file and gets
    the same rows. A re-read of ``good`` does too if it reads every
    column; one that selects a subset is judged by Spark's CSV column
    pruning on that subset alone, so take such a projection before the
    release.
    """
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}
    opts.update(options or {})
    full_schema = schema.rstrip() + ", _corrupt_record string"
    reader = spark.read.schema(full_schema)
    for k, v in opts.items():
        reader = reader.option(k, v)
    scan = reader.csv(path) if file_format == "csv" else reader.json(path)
    # a cached scan of the same path from an earlier call would match
    # this plan and serve that call's rows; refreshing the path drops
    # that data (and the file listing under it), so a landing file
    # rewritten in place is parsed again — once, by the cache below
    spark.catalog.refreshByPath(path)
    # input_file_name() must bind below the cache: above an
    # InMemoryRelation it evaluates to ''
    df = scan.withColumn("_source_file", F.input_file_name()).cache()
    good = df.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record", "_source_file"
    )
    # the fallback is never chosen (the row is corrupt), but it makes a
    # re-parse after the cache is released read every column: Spark
    # refuses a scan of the corrupt-record column alone, and its CSV
    # column pruning would judge a row by the columns read only
    raw = F.coalesce(
        F.col("_corrupt_record"),
        F.concat_ws(",", *(F.col(c).cast("string") for c in scan.columns[:-1])),
    )
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        raw.alias("raw_record"),
        F.col("_source_file").alias("source_file"),
    )
    if quarantine_path:
        bad.write.mode("append").parquet(quarantine_path)
    return _attach_staging(good, (df,)), bad
