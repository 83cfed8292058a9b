"""Structured Streaming capture: dedup-within-watermark, dual
raw/staging sinks, checkpointed re-run and replay of a batch id."""

import json
import os
from datetime import datetime

from pyspark.sql import functions as F

from pipelines_spark.streaming.capture import run_capture_stream


def _write_source_batch(spark, path, rows):
    spark.createDataFrame(
        rows, "ordem string, velocidade double, datahora timestamp"
    ).coalesce(1).write.mode("append").parquet(path)


def test_capture_stream_dedup_and_dual_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    raw = str(tmp_path / "raw")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    logs = str(tmp_path / "logs")

    _write_source_batch(
        spark,
        src,
        [
            ("v1", 10.0, datetime(2024, 1, 1, 0, 0, 0)),
            ("v1", 10.0, datetime(2024, 1, 1, 0, 0, 0)),  # dup (same key+event ts)
            ("v2", 20.0, datetime(2024, 1, 1, 0, 1, 0)),
        ],
    )

    stream = (
        spark.readStream.schema("ordem string, velocidade double, datahora timestamp")
        .parquet(src)
    )
    q = run_capture_stream(
        stream,
        keys=["ordem"],
        event_ts_col="datahora",
        raw_path=raw,
        staging_path=staging,
        checkpoint_path=ckpt,
        log_path=logs,
    )
    q.awaitTermination(120)

    raw_df = spark.read.parquet(raw)
    assert raw_df.count() == 2  # dup dropped
    assert {d for d in os.listdir(raw) if d.startswith("data=")} == {"data=2024-01-01"}

    staged = spark.read.parquet(staging)
    rows = staged.collect()
    assert set(staged.columns) == {
        "ordem", "content", "timestamp_captura", "data", "hora", "_batch_id",
    }
    payload = json.loads([r for r in rows if r["ordem"] == "v1"][0]["content"])
    assert payload["velocidade"] == "10.0"

    log_df = spark.read.parquet(logs)
    assert log_df.filter(F.col("sucesso")).count() >= 1

    # second run with a new source file: checkpoint resumes, appends
    # only the new data, dups across batches are dropped within the
    # watermark.
    _write_source_batch(spark, src, [("v3", 30.0, datetime(2024, 1, 1, 0, 2, 0))])
    q2 = run_capture_stream(
        spark.readStream.schema("ordem string, velocidade double, datahora timestamp").parquet(src),
        keys=["ordem"],
        event_ts_col="datahora",
        raw_path=raw,
        staging_path=staging,
        checkpoint_path=ckpt,
        log_path=logs,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(raw).count() == 3


def _row_multiset(spark, path):
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_capture_stream_replayed_batch_replaces_its_own_files(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the sink writes but
    before the checkpoint commit re-runs the batch under the same id on
    restart. Raw and staging must then hold exactly the rows of the
    single run; the log may repeat a row but keeps one success per
    batch id."""
    import glob

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    paths = dict(
        raw_path=str(tmp_path / "raw"),
        staging_path=str(tmp_path / "staging"),
        checkpoint_path=ckpt,
        log_path=str(tmp_path / "logs"),
    )

    def run():
        q = run_capture_stream(
            spark.readStream.schema(
                "ordem string, velocidade double, datahora timestamp"
            ).parquet(src),
            keys=["ordem"],
            event_ts_col="datahora",
            **paths,
        )
        assert q.awaitTermination(120)
        return [p.batchId for p in q.recentProgress if p.numInputRows > 0]

    _write_source_batch(spark, src, [("v1", 10.0, datetime(2024, 1, 1, 0, 0, 0))])
    run()
    _write_source_batch(
        spark,
        src,
        [
            ("v2", 20.0, datetime(2024, 1, 1, 0, 1, 0)),
            ("v2", 20.0, datetime(2024, 1, 1, 0, 1, 0)),  # dup
            ("v3", 30.0, datetime(2024, 1, 1, 1, 5, 0)),  # next hour
        ],
    )
    last = run()[-1]
    raw_once = _row_multiset(spark, paths["raw_path"])
    staged_once = _row_multiset(spark, paths["staging_path"])
    logged_once = {
        r["batch_id"] for r in spark.read.parquet(paths["log_path"]).collect()
    }
    assert len(raw_once) == 3 and len(staged_once) == 3

    # crash before the commit of the last data batch: its commit and
    # every later offset are gone, its own offsets entry survives
    for kind, first in (("commits", last), ("offsets", last + 1)):
        for f in glob.glob(f"{ckpt}/{kind}/*") + glob.glob(f"{ckpt}/{kind}/.*.crc"):
            name = os.path.basename(f).lstrip(".").removesuffix(".crc")
            if name.isdigit() and int(name) >= first:
                os.remove(f)
    assert run()[0] == last  # the batch really ran again

    assert _row_multiset(spark, paths["raw_path"]) == raw_once
    assert _row_multiset(spark, paths["staging_path"]) == staged_once
    log = spark.read.parquet(paths["log_path"]).collect()
    assert all(r["sucesso"] for r in log)
    assert {r["batch_id"] for r in log} == logged_once


def test_streaming_session_window(spark, tmp_path):
    """Native session windows: events within the gap merge into one
    session; a closed session emits exactly one row in append mode."""
    import datetime as dt

    from pipelines_spark.streaming.sessions import sessionized

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),   # same session (gap 30m)
        (1, base + dt.timedelta(hours=2), 5.0),      # new session
        (2, base, 7.0),
    ]
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src_dir))

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(
        str(src_dir)
    )
    out_dir = str(tmp_path / "sessions_out")
    q = (
        sessionized(stream, gap="30 minutes", watermark_delay="1 minute")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # late watermark closure: a second availableNow pass emits sessions
    # finalized by the advanced watermark
    got = spark.read.parquet(out_dir)
    sessions = {
        (r["user_id"], r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    # sessions closed below the final watermark (max ts - 1m) emit:
    # user 1's first session (2 events) and user 2's session close
    # only once the 14:00 event advances the watermark
    assert (1, 2, 3.0) in sessions
    assert (2, 1, 7.0) in sessions
    # the last session (user 1 at 14:00) stays open — append mode
    assert (1, 1, 5.0) not in sessions


def test_streaming_tumbling_window_agg(spark, tmp_path):
    """T1 streaming variant: watermarked tumbling-window aggregation,
    append mode emits a window only once the watermark passes it."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base + dt.timedelta(minutes=m), float(m)) for m in (0, 1, 6, 7, 30)
    ]
    src = tmp_path / "tumble_in"
    src.mkdir()
    spark.createDataFrame(rows, "k long, ts timestamp, v double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))

    stream = spark.readStream.schema("k long, ts timestamp, v double").parquet(str(src))
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .select(F.col("w.start").alias("ws"), "n", "sv")
    )
    out = str(tmp_path / "tumble_out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "tumble_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r["ws"].minute, r["n"], r["sv"]) for r in spark.read.parquet(out).collect()}
    # windows 12:00 (events 0,1) and 12:05 (events 6,7) closed below
    # the final watermark (12:29); the 12:30 window stays open
    assert (0, 2, 1.0) in got
    assert (5, 2, 13.0) in got
    assert all(ws != 30 for ws, _, _ in got)


def test_stream_stream_join_bounded_skew(spark, tmp_path):
    """Stream-stream inner join: matches only within the ±skew
    window, both sides watermarked so join state is evictable."""
    import datetime as dt

    from pipelines_spark.streaming.joins import stream_stream_join

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    left_rows = [(1, base, 10.0), (2, base + dt.timedelta(minutes=5), 20.0)]
    # k=1 payment inside the 15-min window; k=2 payment 40 min later
    # — outside the bound, must NOT join
    right_rows = [
        (1, base + dt.timedelta(minutes=10), 99.0),
        (2, base + dt.timedelta(minutes=45), 77.0),
    ]
    lsrc, rsrc = tmp_path / "ss_l", tmp_path / "ss_r"
    lsrc.mkdir(), rsrc.mkdir()
    spark.createDataFrame(left_rows, "k long, l_ts timestamp, v double").coalesce(
        1
    ).write.mode("overwrite").parquet(str(lsrc))
    spark.createDataFrame(right_rows, "k long, r_ts timestamp, p double").coalesce(
        1
    ).write.mode("overwrite").parquet(str(rsrc))

    lstream = spark.readStream.schema("k long, l_ts timestamp, v double").parquet(
        str(lsrc)
    )
    rstream = spark.readStream.schema("k long, r_ts timestamp, p double").parquet(
        str(rsrc)
    )
    joined = stream_stream_join(
        lstream, rstream, keys=["k"], left_ts="l_ts", right_ts="r_ts",
        watermark="5 minutes", max_skew="15 minutes",
    ).select("k", "v", "p")
    out = str(tmp_path / "ss_out")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["k"], r["v"], r["p"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 10.0, 99.0)}


def test_stream_stream_join_rejects_unbounded(spark):
    import pytest as _pytest

    from pipelines_spark.streaming.joins import stream_stream_join

    df = spark.range(1).select(
        F.col("id").alias("k"), F.current_timestamp().alias("ts")
    )
    with _pytest.raises(ValueError, match="distinct column names"):
        stream_stream_join(
            df, df, keys=["k"], left_ts="ts", right_ts="ts"
        )


def test_streaming_late_rows_dropped_across_restarts(spark, tmp_path):
    """T3/T5 semantics across micro-batch runs: the watermark persists
    in the checkpoint, a row arriving behind it in a later run is
    dropped (its window was already emitted and is never re-emitted),
    and on-time rows keep flowing."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = tmp_path / "late_in"
    src.mkdir()
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def run_batch(rows, fname):
        spark.createDataFrame(rows, "k long, ts timestamp, v double").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / fname))
        stream = (
            spark.readStream.schema("k long, ts timestamp, v double")
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
        )
        agg = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .select(F.col("w.start").alias("ws"), "n", "sv")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: 12:00 window (2 events) + a 12:12 event advancing the
    # watermark to 12:11 — the 12:00 and 12:05 windows close
    run_batch(
        [(1, base, 1.0), (1, base + dt.timedelta(minutes=1), 2.0),
         (1, base + dt.timedelta(minutes=12), 4.0)],
        "b1",
    )
    # run 2: one LATE row at 12:01 (behind the checkpointed watermark)
    # and one on-time row at 12:20
    run_batch(
        [(1, base + dt.timedelta(minutes=1), 100.0),
         (1, base + dt.timedelta(minutes=20), 8.0)],
        "b2",
    )
    rows = spark.read.parquet(out).collect()
    by_min = {}
    for r in rows:
        by_min.setdefault(r["ws"].minute, []).append((r["n"], r["sv"]))
    # the 12:00 window was emitted exactly once, WITHOUT the late row
    assert by_min[0] == [(2, 3.0)]
    # the 12:10 window (12:12 event) closed in run 2 — late row absent
    assert by_min[10] == [(1, 4.0)]
    # the late row's value appears nowhere in the output
    assert all(sv != 100.0 and sv != 103.0 for pairs in by_min.values() for _, sv in pairs)


def test_cdc_upsert_stream_folds_batches_into_lake(spark, tmp_path):
    from pipelines_spark.streaming.cdc import run_cdc_upsert_stream

    src = str(tmp_path / "cdc_src")
    lake = str(tmp_path / "cdc_lake")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "id long, v string, seq long, year string"

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        q = run_cdc_upsert_stream(
            spark.readStream.schema(schema).parquet(src),
            keys=["id"],
            order_col="seq",
            path=lake,
            partition_cols=["year"],
            checkpoint_path=ckpt,
        )
        q.awaitTermination(120)

    # batch 1 bootstraps the table; id=1 appears twice — only its
    # newest version (seq 2) lands
    emit([(1, "a0", 1, "1995"), (1, "a1", 2, "1995"), (2, "b", 1, "1996")])
    run_once()
    t1 = {(r["id"], r["v"], r["year"]) for r in spark.read.parquet(lake).collect()}
    assert t1 == {(1, "a1", "1995"), (2, "b", "1996")}

    # batch 2: update id=2, insert id=3 in a new partition; id=1's
    # partition is untouched
    before = sorted(os.listdir(os.path.join(lake, "year=1995")))
    emit([(2, "b2", 2, "1996"), (3, "c", 1, "1997")])
    run_once()
    t2 = {(r["id"], r["v"], r["year"]) for r in spark.read.parquet(lake).collect()}
    assert t2 == {(1, "a1", "1995"), (2, "b2", "1996"), (3, "c", "1997")}
    assert sorted(os.listdir(os.path.join(lake, "year=1995"))) == before


def test_dedup_within_watermark_retransmits_and_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics end-to-end: a
    retransmitted key with a DIFFERENT event ts inside the horizon is
    dropped; once the watermark passes the key's expiry the same key
    is a fresh row again. State is keyed on the id only, so this is
    the at-least-once-source dedup the exact (key, ts) variant cannot
    express."""
    import pandas as pd

    from pipelines_spark.streaming.capture import dedup_within_watermark

    src = tmp_path / "src"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src.mkdir()

    def drop(name, rows):
        pd.DataFrame(rows, columns=["k", "ts"]).astype(
            {"k": "str", "ts": "datetime64[us]"}
        ).to_parquet(src / name)

    def run():
        stream = spark.readStream.schema("k string, ts timestamp").parquet(str(src))
        q = (
            dedup_within_watermark(
                stream, keys=["k"], event_ts_col="ts", watermark_delay="2 minutes"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    t = pd.Timestamp
    # batch 1: A arrives twice with different event times (retransmit)
    drop("b1.parquet", [("A", t("2024-01-01 10:00:00")),
                        ("A", t("2024-01-01 10:00:30")),
                        ("B", t("2024-01-01 10:01:00"))])
    run()
    # batch 2: C advances the watermark past A's expiry (10:00 + 2min)
    drop("b2.parquet", [("C", t("2024-01-01 11:00:00"))])
    run()
    # batch 3: A again, far past the horizon -> fresh row
    drop("b3.parquet", [("A", t("2024-01-01 12:00:00"))])
    run()

    counts = {}
    for r in spark.read.parquet(out).collect():
        counts[r["k"]] = counts.get(r["k"], 0) + 1
    assert counts == {"A": 2, "B": 1, "C": 1}


def test_streaming_windowed_psi_drift_monitor(spark, tmp_path):
    """Windowed PSI against a batch reference: a stream window drawn
    from the reference distribution scores near 0; a window collapsed
    onto one bin trips the 0.2 alert. Append mode — each window's
    histogram emits exactly once at watermark closure."""
    import datetime as dt

    from pipelines_spark.streaming.drift_stream import (
        psi_per_window,
        reference_histogram,
        windowed_bin_counts,
    )

    # reference: uniform over [0, 10)
    ref = spark.createDataFrame(
        [(float(i % 100) / 10,) for i in range(1000)], "value double"
    )
    vmin, vmax, shares = reference_histogram(ref, "value", bins=10)

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # window 1: matches the reference (uniform)
    for i in range(200):
        rows.append((base + dt.timedelta(seconds=i), float(i % 100) / 10))
    # window 2: collapsed onto one bin (producer bug)
    for i in range(200):
        rows.append((base + dt.timedelta(hours=1, seconds=i), 0.05))
    # sentinel far ahead so the watermark closes both windows in the
    # second availableNow pass
    rows.append((base + dt.timedelta(hours=6), 5.0))

    src = tmp_path / "drift_in"
    src.mkdir()
    spark.createDataFrame(rows, "ts timestamp, value double").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema("ts timestamp, value double").parquet(
        str(src)
    )
    out = str(tmp_path / "drift_out")
    counts = windowed_bin_counts(
        stream,
        value_col="value",
        ts_col="ts",
        vmin=vmin,
        vmax=vmax,
        bins=10,
        window="1 hour",
        watermark_delay="1 minute",
    )
    for _ in range(2):  # second pass flushes watermark-closed windows
        q = (
            counts.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    emitted = spark.read.parquet(out)
    psi = {
        r["window_start"]: (r["psi"], r["drift_alert"], r["n_events"])
        for r in psi_per_window(emitted, shares).collect()
    }
    w1, w2 = base.replace(minute=0), base.replace(minute=0) + dt.timedelta(
        hours=1
    )
    assert psi[w1][2] == 200 and psi[w2][2] == 200
    assert psi[w1][0] < 0.05 and psi[w1][1] is False
    assert psi[w2][0] > 1.0 and psi[w2][1] is True


def test_capture_flow_with_drift_monitor_logs_alerts_once(spark, tmp_path):
    """The composed flow (capture + windowed PSI monitor over the
    same source, one shared K10 log table): a clean window logs
    sucesso=true, a collapsed-distribution window logs a
    [values_drift] alert, a NULL-heavy window logs [null_values] —
    each CLOSED window exactly once across re-runs (checkpoint), next
    to the capture side's per-batch success rows."""
    import datetime as dt

    from pipelines_spark.streaming.capture import (
        run_capture_with_drift_monitor,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = tmp_path / "mon_src"
    src.mkdir()
    paths = dict(
        raw_path=str(tmp_path / "mon_raw"),
        staging_path=str(tmp_path / "mon_staging"),
        checkpoint_path=str(tmp_path / "mon_ckpt"),
        log_path=str(tmp_path / "mon_logs"),
        histogram_path=str(tmp_path / "mon_hist"),
        monitor_checkpoint_path=str(tmp_path / "mon_ckpt2"),
    )
    # reference: uniform over [0, 10)
    ref = spark.createDataFrame(
        [(float(i % 100) / 10,) for i in range(1000)], "value double"
    )

    def emit(rows):
        spark.createDataFrame(
            rows, "ordem string, value double, datahora timestamp"
        ).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        stream = spark.readStream.schema(
            "ordem string, value double, datahora timestamp"
        ).parquet(str(src))
        q1, q2 = run_capture_with_drift_monitor(
            stream,
            keys=["ordem"],
            event_ts_col="datahora",
            value_col="value",
            reference=ref,
            bins=10,
            monitor_window="1 hour",
            watermark_delay="1 minute",
            max_null_frac=0.25,
            **paths,
        )
        assert q1.awaitTermination(300)
        assert q2.awaitTermination(300)

    rows = []
    # window 1 (12:00): matches the reference
    for i in range(100):
        rows.append((f"a{i}", float(i % 100) / 10, base + dt.timedelta(seconds=i)))
    # window 2 (13:00): collapsed onto one bin (producer bug)
    for i in range(100):
        rows.append((f"b{i}", 0.05, base + dt.timedelta(hours=1, seconds=i)))
    # window 3 (14:00): clean values but 40% NULLs
    for i in range(100):
        v = None if i % 5 < 2 else float(i % 100) / 10
        rows.append((f"c{i}", v, base + dt.timedelta(hours=2, seconds=i)))
    # sentinel far ahead so the watermark closes all three windows on
    # the second pass
    rows.append(("z", 5.0, base + dt.timedelta(hours=9)))
    emit(rows)
    run_once()
    run_once()  # second pass flushes watermark-closed windows
    run_once()  # third pass: no new data -> must not duplicate logs

    # capture side landed the raw rows
    assert spark.read.parquet(paths["raw_path"]).count() == 301

    log = spark.read.parquet(paths["log_path"])
    # monitor rows are the ones whose timestamp_captura is a window
    # start (capture rows are stamped with wall-clock current_timestamp)
    mon = {
        r["timestamp_captura"]: (r["sucesso"], r["erro"])
        for r in log.filter(F.col("timestamp_captura") < dt.datetime(2025, 1, 1)).collect()
    }
    w1, w2, w3 = base, base + dt.timedelta(hours=1), base + dt.timedelta(hours=2)
    assert set(mon) == {w1, w2, w3}  # exactly once each, sentinel open
    assert mon[w1] == (True, None)
    assert mon[w2][0] is False and mon[w2][1].startswith("[values_drift]")
    assert mon[w3][0] is False and mon[w3][1].startswith("[null_values]")

    # the histogram sink carries the dedicated NULL bin for window 3
    hist = spark.read.parquet(paths["histogram_path"])
    null_rows = {
        (r["window_start"], r["n"])
        for r in hist.filter(F.col("bin") == -1).collect()
    }
    assert null_rows == {(w3, 40)}

    # capture side logged its batches as successes alongside
    assert log.filter(F.col("sucesso") & F.col("erro").isNull()).count() >= 3
