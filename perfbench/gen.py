"""Seeded inputs for the benchmark, cut from the sf0.1 tables.

Every table the program reads is one of the sf0.1 test tables in
``perfbench/data/sf0.1`` (byte-identical copies; see the README). The
seed only subsets, renders and corrupts them, so the same seed gives
byte-identical inputs:

- ``render_dump_batches``: a seeded half of lineitem/orders/events,
  rendered as one headerless CSV file per partition, with a seeded
  share of malformed lines;
- ``make_capture_windows``: consecutive runs of ``events`` rows (in
  event-time order) as one raw-JSON file per minutely capture window,
  with a duplicate share and the fail-once / fail-always fetch plan;
- ``make_stream_files``: further runs of ``events`` rows as stream
  files, with duplicate and late shares;
- ``query_order``: the seeded order of the query passes, which run on
  the sf0.1 tables as they are.

The generators also return the counts the output checks compare
against (injected malformed lines, unique keys, late rows), so the
checks never trust the program's own accounting.

Sizes that follow the reference's operating envelope (BASELINE.md):
dump batches near its 50 000-row fetch unit, minutely windows and 3
fetch attempts. The injected shares (malformed lines, duplicates,
fetch failures, late rows) are not published by the reference; they
are round guesses that make each path do real work on every run.
"""

from __future__ import annotations

import json
import os

from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: the sf0.1 tables
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

#: the columns of ``events`` the capture windows and stream files carry
EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value"]
EVENT_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def table_rows() -> dict[str, int]:
    """Rows per sf0.1 table, from the parquet footers."""
    return {t: pq.ParquetFile(f"{DATA_DIR}/{t}.parquet").metadata.num_rows for t in TABLES}


def _events_by_time() -> pa.Table:
    t = pq.read_table(f"{DATA_DIR}/events.parquet", columns=EVENT_COLS)
    return t.take(pc.sort_indices(t, [("ts", "ascending")]))


# ---------------------------------------------------------------------------
# lake dump: CSV batches with malformed lines
# ---------------------------------------------------------------------------

#: (table, CSV schema in DDL form, date column) for the dump batches
DUMP_TABLES = {
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
        "l_shipdate",
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        "o_orderdate",
    ),
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
        "ts",
    ),
}


def render_dump_batches(
    out_dir: str, seed: int, keep_share: float, bad_share: float, per_table: int
) -> list[dict]:
    """One headerless CSV file per (table, partition) batch.

    Each table is cut to a seeded ``keep_share`` of its rows. A batch
    holds every kept row of its partition (a year of lineitem or
    orders, a day of events), so a dynamic-overwrite dump of it is a
    whole-partition replace and replaying it is idempotent. The seed
    picks ``per_table`` partitions of each table, among those holding
    at least 90 % of the median partition's rows: the last sf0.1 year
    is a partial one, and leaving it out keeps the rows of a run from
    depending on the seed. Each batch gets ``bad_share`` × rows
    malformed lines (a copy of a real line with a non-numeric value in
    a numeric column), inserted at seeded positions.

    Returns [{table, part_col, key, path, rows, bad, bytes}] in
    generation order.
    """
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    batches = []
    no_header = pacsv.WriteOptions(include_header=False)
    for table, (_schema, date_col) in DUMP_TABLES.items():
        t = pq.read_table(f"{DATA_DIR}/{table}.parquet")
        t = t.filter(pa.array(rng.random(t.num_rows) < keep_share))
        if table == "events":
            part_col, fmt = "data_particao", "%Y-%m-%d"
        else:
            part_col, fmt = "ano_particao", "%Y"
        keys = pc.strftime(t[date_col], format=fmt)
        t = t.set_column(
            t.schema.get_field_index(date_col), date_col,
            pc.strftime(t[date_col], format="%Y-%m-%d %H:%M:%S"),
        )
        numeric = [
            i for i, f in enumerate(t.schema)
            if pa.types.is_floating(f.type) or pa.types.is_integer(f.type)
        ]
        counts = pc.value_counts(keys).to_pylist()
        median = float(np.median([c["counts"] for c in counts]))
        whole = sorted(c["values"] for c in counts if c["counts"] >= 0.9 * median)
        for key in sorted(rng.choice(whole, per_table, replace=False)):
            rows = t.filter(pc.equal(keys, key))
            buf = pa.BufferOutputStream()
            pacsv.write_csv(rows, buf, write_options=no_header)
            lines = buf.getvalue().to_pybytes().decode().splitlines()
            n_bad = int(round(len(lines) * bad_share))
            for pos in np.sort(rng.integers(0, len(lines), n_bad))[::-1]:
                # a copy of a real line with one numeric cell replaced;
                # no cell of these tables holds a comma
                cells = lines[pos].split(",")
                cells[numeric[int(rng.integers(0, len(numeric)))]] = "#N/A"
                lines.insert(int(pos), ",".join(cells))
            path = f"{out_dir}/{table}_{key}.csv"
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            batches.append({
                "table": table, "part_col": part_col, "key": key,
                "path": path, "rows": rows.num_rows, "bad": n_bad,
                "bytes": os.path.getsize(path),
            })
    return batches


# ---------------------------------------------------------------------------
# capture backlog: minutely raw-JSON windows
# ---------------------------------------------------------------------------

CAPTURE_T0 = datetime(2024, 3, 1, 6, 0)


def _json_lines(t: pa.Table) -> list[str]:
    return [
        json.dumps({**r, "ts": r["ts"].isoformat()}) + "\n" for r in t.to_pylist()
    ]


def make_capture_windows(
    out_dir: str,
    seed: int,
    n_windows: int,
    rows_per_window: int,
    dup_share: float,
) -> list[dict]:
    """One JSON-lines file per minutely capture window.

    The windows take consecutive runs of ``rows_per_window`` events
    in event-time order, from a seeded start; the key is ``event_id``.
    ``dup_share`` of each window re-sends a row of the same window
    verbatim, which the capture's (keys, capture ts) dedup must
    remove. Each window is tagged ``ok``, ``fail_once`` (the first
    fetch attempt raises) or ``fail_always`` (every attempt raises
    until recapture). Every block of 3 windows, the windows of one
    cycle, holds one of each in seeded order: the retry and recapture
    work of a cycle then does not depend on the seed.
    """
    rng = np.random.default_rng(seed + 2)
    os.makedirs(out_dir, exist_ok=True)
    events = _events_by_time()
    need = n_windows * rows_per_window
    if need > events.num_rows:
        raise ValueError(f"{need} capture rows wanted, events has {events.num_rows}")
    start = int(rng.integers(0, events.num_rows - need + 1))
    fates = [
        f for _ in range(0, n_windows, 3)
        for f in rng.permutation(["ok", "fail_once", "fail_always"])
    ]
    n_dup = int(round(rows_per_window * dup_share))
    windows = []
    for w in range(n_windows):
        end = CAPTURE_T0 + timedelta(minutes=w + 1)
        lines = _json_lines(events.slice(start + w * rows_per_window, rows_per_window))
        lines += [lines[int(i)] for i in rng.integers(0, rows_per_window, n_dup)]
        path = f"{out_dir}/window_{w:04d}.json"
        with open(path, "w") as fh:
            fh.writelines(lines[int(i)] for i in rng.permutation(len(lines)))
        windows.append({
            "start": end - timedelta(minutes=1), "end": end, "path": path,
            "fate": str(fates[w]), "rows": len(lines), "unique": rows_per_window,
            "bytes": os.path.getsize(path),
        })
    return windows


# ---------------------------------------------------------------------------
# streaming capture: event files with duplicates and late events
# ---------------------------------------------------------------------------


def make_stream_files(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    dup_share: float,
    late_share: float,
) -> list[dict]:
    """``n_files`` parquet files of events, for one trigger each.

    File ``i`` carries run ``i`` of ``rows_per_file`` consecutive
    events in event-time order, from a seeded start; the key is
    (``event_id``, ``ts``). ``dup_share`` re-sends a row of the same
    file, which the streaming dedup drops. From file 2 on,
    ``late_share`` × rows of run ``i`` - 2 are held back from their
    own file and sent in file ``i`` instead. They come from the older
    half of that run, hours of event time behind the newest row of
    file ``i`` - 1, so with one file per trigger every one of them is
    behind the watermark and the stream drops it.

    Returns one {"path", "rows", "unique_on_time", "late", "bytes"}
    per file: once file ``i`` is consumed, the raw sink holds its
    ``unique_on_time`` rows and the watermark has dropped its
    ``late``.
    """
    rng = np.random.default_rng(seed + 3)
    os.makedirs(out_dir, exist_ok=True)
    events = _events_by_time()
    need = n_files * rows_per_file
    if need > events.num_rows:
        raise ValueError(f"{need} stream rows wanted, events has {events.num_rows}")
    start = int(rng.integers(0, events.num_rows - need + 1))
    runs = [events.slice(start + i * rows_per_file, rows_per_file) for i in range(n_files)]
    n_late = int(round(rows_per_file * late_share))
    held = [
        np.sort(rng.choice(rows_per_file // 2, n_late, replace=False))
        if i + 2 < n_files else np.array([], dtype=np.int64)
        for i in range(n_files)
    ]
    files = []
    for i, run in enumerate(runs):
        keep = np.setdiff1d(np.arange(rows_per_file), held[i])
        on_time = run.take(pa.array(keep))
        dup = on_time.take(pa.array(rng.integers(0, on_time.num_rows,
                                                 int(round(on_time.num_rows * dup_share)))))
        late = runs[i - 2].take(pa.array(held[i - 2])) if i >= 2 else on_time.slice(0, 0)
        t = pa.concat_tables([on_time, dup, late])
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = f"{out_dir}/part_{i:04d}.parquet"
        pq.write_table(t, path)
        files.append({
            "path": path, "rows": t.num_rows, "unique_on_time": on_time.num_rows,
            "late": late.num_rows, "bytes": os.path.getsize(path),
        })
    return files


def query_order(names: list[str], seed: int, passes: int) -> list[str]:
    """``passes`` concatenated seeded permutations of ``names``."""
    rng = np.random.default_rng(seed + 4)
    return [names[int(i)] for _ in range(passes) for i in rng.permutation(len(names))]


#: per-workload input sizes
SIZES = {
    "ingest": {
        # lake dump: half of each table, so a yearly lineitem batch
        # holds about 43k rows, near the reference's 50k-row unit; a
        # traced run dumps at most 3 batches of a table
        "keep_share": 0.5, "bad_share": 0.002, "batches_per_table": 4,
        # capture backlog: a traced run captures 9 windows
        "n_windows": 12, "rows_per_window": 1000, "dup_share": 0.05,
        # streaming capture: one event file per trigger; a traced run
        # drains 5
        "n_files": 8, "rows_per_file": 1000, "stream_dup_share": 0.05,
        "late_share": 0.03, "watermark_minutes": 2,
    },
    "query_mix": {},
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Make ``workload``'s inputs under ``out_dir``; return the manifest."""
    size = SIZES[workload]
    manifest: dict = {
        "workload": workload, "seed": seed, **size,
        "tables_dir": DATA_DIR, "table_rows": table_rows(),
    }
    if workload == "ingest":
        manifest["batches"] = render_dump_batches(
            f"{out_dir}/csv", seed, size["keep_share"], size["bad_share"],
            size["batches_per_table"],
        )
        manifest["windows"] = [
            {**w, "start": w["start"].isoformat(), "end": w["end"].isoformat()}
            for w in make_capture_windows(
                f"{out_dir}/windows", seed, size["n_windows"],
                size["rows_per_window"], size["dup_share"],
            )
        ]
        manifest["files"] = make_stream_files(
            f"{out_dir}/stream", seed, size["n_files"], size["rows_per_file"],
            size["stream_dup_share"], size["late_share"],
        )
    return manifest


if __name__ == "__main__":
    # run as a child process, so generation never counts towards the
    # benchmark process's peak RSS: gen.py WORKLOAD SEED OUT_DIR
    import sys

    wl, sd, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(generate(wl, sd, out), fh)
