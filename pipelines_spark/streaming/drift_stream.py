"""Streaming distribution-drift monitor: windowed PSI against a
batch reference.

The batch operator (operators/drift.py::psi_drift) answers "did this
week drift from last month" after the fact; production feeds want the
same answer PER EVENT-TIME WINDOW while the stream runs — the input
histogram skewing upstream is typically the first visible symptom of
a broken producer (ref: the reference pipelines' capture checks watch
volume and schema; this watches the VALUES).

Two-stage shape, because Structured Streaming allows one aggregation
per query:

1. ``windowed_bin_counts`` — the STREAMING stage: reference-derived
   equal-width binning as a pure map-side expression (no stream-side
   join, nothing broadcast per batch), then ONE watermarked tumbling-
   window count per (window, bin). Append mode: a window's histogram
   is emitted exactly once, when the watermark closes it.
2. ``psi_per_window`` — the BATCH finalization over the emitted
   counts (run it on the sink table after each trigger, or on the
   whole sink at audit time): per closed window, PSI vs the
   reference shares with the same ``min_frac`` clamp and
   rounded-DECIMAL term discipline as the batch operator.

The reference enters as TWO scalars (vmin/vmax) plus a ``bins``-row
share table — state independent of both corpus and stream volume.

NULL discipline: NULL values are not "values" for PSI purposes, but a
producer that starts emitting NULLs is exactly the failure this
monitor exists to catch — so the streaming stage routes NULLs to a
dedicated ``bin = -1`` row (visible in the histogram sink), and the
finalization reports them as ``n_null`` per window while excluding
them from the PSI terms and the share denominator. The reference
side simply drops NULLs (min/max already skip them; counting them
would silently deflate every base share).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pipelines_spark.functions.exact import exact_div_round
from pipelines_spark.sinks.logs import write_log_rows
from pipelines_spark.sinks.partitioned import write_batch


def reference_histogram(
    ref: DataFrame, value_col: str, *, bins: int = 10
) -> tuple[float, float, DataFrame]:
    """(vmin, vmax, shares) from the reference frame: equal-width
    breakpoints over the reference [min, max] (the standard PSI
    protocol — the reference defines "expected"; live values outside
    clamp into the edge bins) and the reference share per bin on the
    full bin spine (empty bins present with share 0.0).

    The two boundary scalars are a bounded 1-row collect (the
    watermark-lookup pattern); the share table has ``bins`` rows.
    NULL reference values are dropped (see module NULL discipline).

    Reference scan budget: TWO scans — one min/max aggregate (the
    breakpoints must exist before binning can), one (bin, count)
    aggregate. The total is derived from the bin counts with a
    ``bins``-row window sum, never a third ``ref.count()`` scan.
    """
    ref = ref.filter(F.col(value_col).isNotNull())
    row = ref.agg(
        F.min(F.col(value_col)).alias("vmin"),
        F.max(F.col(value_col)).alias("vmax"),
    ).collect()[0]
    vmin, vmax = float(row["vmin"]), float(row["vmax"])
    b = _bin_expr(F.col(value_col), vmin, vmax, bins)
    counts = ref.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias("n"))
    spine = ref.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shares = spine.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        (
            F.coalesce(F.col("n"), F.lit(0))
            / F.sum(F.coalesce(F.col("n"), F.lit(0))).over(w_all).cast("double")
        ).alias("base_share"),
    )
    return vmin, vmax, shares


def _bin_expr(v, vmin: float, vmax: float, bins: int):
    span = vmax - vmin
    if span == 0:
        return F.lit(0)
    raw = F.floor((v - F.lit(vmin)) * bins / F.lit(span))
    return (
        F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw)).cast("int")
    )


def windowed_bin_counts(
    stream: DataFrame,
    *,
    value_col: str,
    ts_col: str,
    vmin: float,
    vmax: float,
    bins: int = 10,
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """The streaming stage: map-side bin assignment + ONE watermarked
    tumbling-window count per (window, bin). Append-mode safe — each
    window's histogram emits exactly once at watermark closure.
    NULL values land in the dedicated ``bin = -1`` row (a producer
    emitting NULLs is a first-class drift signal, not a silent
    top-bin artifact). Output: (window_start, window_end, bin, n)."""
    v = F.col(value_col)
    b = F.when(v.isNull(), F.lit(-1)).otherwise(
        _bin_expr(v, vmin, vmax, bins)
    )
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"), b.alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bin",
            "n",
        )
    )


def psi_per_window(
    counts: DataFrame,
    shares: DataFrame,
    *,
    min_frac: float = 1e-4,
    alert_threshold: float = 0.2,
) -> DataFrame:
    """Batch finalization: PSI per emitted window vs the reference
    shares, on the full bin spine (a bin the window never saw still
    contributes via the ``min_frac`` clamp — same discipline as
    operators/drift.py::psi_drift), rounded-DECIMAL terms. The
    dedicated NULL bin (-1) is excluded from the PSI terms and the
    share denominator but surfaced as ``n_null``. Output:
    (window_start, n_events, n_null, psi, drift_alert) — the
    conventional 0.2 "significant shift" threshold, overridable."""
    spine = counts.select("window_start").distinct().crossJoin(
        F.broadcast(shares)
    )
    totals = counts.groupBy("window_start").agg(
        F.coalesce(
            F.sum(F.when(F.col("bin") >= 0, F.col("n"))), F.lit(0)
        ).alias("n_events"),
        F.coalesce(
            F.sum(F.when(F.col("bin") < 0, F.col("n"))), F.lit(0)
        ).alias("n_null"),
    )
    joined = (
        spine.join(counts.select("window_start", "bin", "n"),
                   ["window_start", "bin"], "left")
        .join(totals, "window_start")
    )
    p = F.greatest(F.col("base_share"), F.lit(min_frac))
    q = F.greatest(
        F.coalesce(F.col("n"), F.lit(0)) / F.col("n_events").cast("double"),
        F.lit(min_frac),
    )
    term = F.round((p - q) * F.log(p / q), 6).cast("decimal(18,6)")
    return (
        joined.select("window_start", "n_events", "n_null", term.alias("t"))
        .groupBy("window_start")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max("n_null").cast("long").alias("n_null"),
            # round the exact DECIMAL(18,6) sum (tie class at 4 dp)
            F.round(F.sum("t"), 4).cast("double").alias("psi"),
        )
        .select(
            "window_start",
            "n_events",
            "n_null",
            "psi",
            (F.col("psi") >= alert_threshold).alias("drift_alert"),
        )
        .orderBy("window_start")
    )


def run_drift_monitor_stream(
    stream: DataFrame,
    *,
    value_col: str,
    ts_col: str,
    vmin: float,
    vmax: float,
    shares: DataFrame,
    histogram_path: str,
    checkpoint_path: str,
    log_path: str,
    bins: int = 10,
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
    alert_threshold: float = 0.2,
    min_frac: float = 1e-4,
    max_null_frac: float | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """The composed monitor: windowed histograms into a sink table +
    one capture-log row (K10 shape: ``timestamp_captura, sucesso,
    erro, data`` — sinks/logs.py::LOG_SCHEMA) per CLOSED window, so
    values-drift alerts land in the SAME log table the recapture
    spine and check harness already watch (reference shape: the
    capture checks + ``upload_run_logs_to_bq``,
    pipelines/rj_smtr/utils.py:939-1006,1139-1206 — those watch
    volume/schema; this watches the VALUES).

    Exactly-once per window: ``windowed_bin_counts`` runs in append
    mode, so a window's histogram rows arrive in exactly one
    micro-batch (at watermark closure) and the PSI finalization +
    log append run batch-locally under the streaming checkpoint.
    The histogram lands in that batch's ``_batch_id`` partition
    (sinks/partitioned.py::write_batch), so a replayed batch replaces
    its own rows; its log rows are appended again (sinks/logs.py).

    Alert policy: ``psi >= alert_threshold`` fails the window
    (``sucesso = false``, ``erro = "[values_drift]…"``); an all-NULL
    window always fails; with ``max_null_frac`` set, a window whose
    NULL share exceeds it fails with ``[null_values]`` even when the
    non-null distribution is clean.
    """
    counts = windowed_bin_counts(
        stream,
        value_col=value_col,
        ts_col=ts_col,
        vmin=vmin,
        vmax=vmax,
        bins=bins,
        window=window,
        watermark_delay=watermark_delay,
    )

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if not batch_df.take(1):
                return
            write_batch(batch_df, histogram_path, batch_id)
            scored = psi_per_window(
                batch_df,
                shares,
                min_frac=min_frac,
                alert_threshold=alert_threshold,
            )
            null_frac = F.col("n_null") / (
                F.col("n_events") + F.col("n_null")
            ).cast("double")
            drift = F.coalesce(F.col("drift_alert"), F.lit(True))
            null_breach = (
                null_frac > F.lit(max_null_frac)
                if max_null_frac is not None
                else F.lit(False)
            )
            erro = F.when(
                drift,
                F.concat(
                    F.lit("[values_drift]psi="),
                    F.coalesce(F.col("psi").cast("string"), F.lit("null")),
                    F.lit(" n_null="),
                    F.col("n_null").cast("string"),
                ),
            ).when(
                null_breach,
                F.concat(
                    F.lit("[null_values]null_frac="),
                    # exact integer-arithmetic ratio (tie class): the
                    # alert text must be byte-identical across engines
                    # and replays
                    exact_div_round(
                        F.col("n_null"),
                        F.col("n_events") + F.col("n_null"),
                        out_scale=4,
                    ).cast("string"),
                ),
            )
            # one verdict per closed window: a bounded collect, each
            # instant as epoch micros so no local-time conversion moves it
            verdicts = scored.select(
                F.unix_micros("window_start"), ~(drift | null_breach), erro
            ).collect()
            write_log_rows(
                batch_df.sparkSession, log_path,
                [(ts, ok, err, batch_id) for ts, ok, err in verdicts],
            )
        finally:
            batch_df.unpersist()

    writer = (
        counts.writeStream.outputMode("append")
        .foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
