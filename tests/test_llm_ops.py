"""LLM-data-pipeline operators: dedup family semantics, similarity
search recall, text analysis, multimodal plumbing."""

from pyspark.sql import functions as F

from pipelines_spark.llm.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)
from pipelines_spark.llm.multimodal import (
    attach_binary_metadata,
    extract_image_features,
    sample_frames,
)
from pipelines_spark.llm.similarity import brute_force_topk
from pipelines_spark.llm.text import language_id, quality_score, token_count


def test_word_shingles_short_text_empty(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    out = df.select(F.size(word_shingles("text", 3)).alias("n")).collect()
    assert [r["n"] for r in out] == [0, 2]


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string"
    )
    out = {
        (r["canonical_id"], r["dup_count"])
        for r in exact_dedup(df, ["text"], "doc_id").collect()
    }
    assert out == {(1, 2), (3, 1)}


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words about spark engines and parquet files here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_near_dup_pairs(df, id_col="doc_id", text_col="text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_ngram_jaccard_matches_minhash_on_same_data(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i k"),
            (3, "z y x w v u t s r q"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, id_col="doc_id", text_col="text", threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(df, id_col="doc_id", text_col="text", threshold=0.5).collect()
    }
    assert exact == lsh == {(1, 2)}


def test_minhash_hot_bucket_cap_bounds_candidates(spark, caplog):
    """Boilerplate-heavy corpora put every doc in the same LSH
    buckets; the within-bucket join is quadratic. The cap drops hot
    buckets (logged) so the job stays bounded — and unrelated pairs
    in normal buckets still come through."""
    import logging

    boiler = "terms of service apply all rights reserved click here to continue reading"
    rows = [(i, boiler) for i in range(300)]
    # one genuinely distinct near-dup pair away from the boilerplate
    rows += [
        (1000, "unique discussion of spark shuffle partitioning strategies at scale"),
        (1001, "unique discussion of spark shuffle partitioning strategies at weekends"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.WARNING, logger="pipelines_spark.llm.dedup"):
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_near_dup_pairs(
                df, id_col="doc_id", text_col="text", threshold=0.5,
                max_bucket_size=50,
            ).collect()
        }
    # the 300-doc clique was dropped (not silently: warning logged)...
    assert any("hot bucket" in m for m in caplog.messages), caplog.messages
    assert not any(a < 300 and b < 300 for a, b in got)
    # ...while the normal-bucket pair survives
    assert (1000, 1001) in got


def test_prefix_filter_equals_full_inverted_index(spark, sf_medium):
    """Prefix filtering is lossless: identical pair set to the full
    inverted index on the real corpus, while indexing strictly fewer
    postings (the ⌊(1−t)n⌋+1 prefix)."""
    from pipelines_spark.llm.dedup import prefix_filter_jaccard_pairs

    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    exact = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", threshold=0.5
        ).collect()
    }
    prefix = {
        tuple(r)
        for r in prefix_filter_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", threshold=0.5
        ).collect()
    }
    assert prefix == exact
    assert len(exact) > 0  # not vacuous


def test_positional_filter_prunes_candidates_losslessly(spark, sf_medium):
    """The PPJoin positional filter strictly reduces the candidate
    volume on the real corpus while changing NOTHING about which
    pairs verify (the pair set is pinned against the full inverted
    index by test_prefix_filter_equals_full_inverted_index; here we
    pin that the filter actually bites AND that the surviving
    candidate set still contains every true pair)."""
    from pipelines_spark.llm.dedup import (
        _prefix_candidate_pairs,
        prefix_filter_jaccard_pairs,
        word_shingles,
    )
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    t = 0.5
    shingled = docs.select(
        "doc_id", word_shingles("text", 3).alias("_shingles")
    ).filter(F.size("_shingles") > 0)
    inv = shingled.select("doc_id", F.explode("_shingles").alias("_sh"))
    freq = inv.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_df").asc(), F.col("_sh").asc()
    )
    prefix = (
        inv.join(freq, "_sh")
        .withColumn("_rk", F.row_number().over(w))
        .join(
            shingled.select("doc_id", F.size("_shingles").alias("_n")),
            "doc_id",
        )
        .filter(F.col("_rk") <= F.floor((1.0 - t) * F.col("_n")).cast("int") + 1)
        .select("doc_id", "_sh", "_n", "_rk")
        .persist()
    )
    with_pos = {
        tuple(r)
        for r in _prefix_candidate_pairs(prefix, "doc_id", t).collect()
    }
    without = {
        tuple(r)
        for r in _prefix_candidate_pairs(
            prefix, "doc_id", t, positional=False
        ).collect()
    }
    prefix.unpersist()
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", threshold=t
        ).collect()
    }
    assert with_pos <= without
    assert len(with_pos) < len(without), (
        f"positional filter did not bite: {len(with_pos)} == {len(without)}"
    )
    assert true_pairs <= with_pos  # lossless: every verified pair survives


def test_prefix_filter_skips_boilerplate_hot_shingle(spark):
    """A shingle shared by EVERY doc (boilerplate) must not generate
    candidates by itself: two docs whose only overlap is the hot
    shingle stay unpaired, while a genuine near-dup pair survives."""
    from pipelines_spark.llm.dedup import prefix_filter_jaccard_pairs

    boiler = "click here to subscribe"
    a = boiler + " alpha beta gamma delta epsilon zeta"
    b = boiler + " one two three four five six"
    c = a + " eta"  # near-dup of a
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", threshold=0.5
        ).collect()
    }
    assert (1, 3) in pairs
    assert (1, 2) not in pairs and (2, 3) not in pairs


def test_incremental_dedup_two_batches_equals_oneshot(spark, sf_small):
    """The incremental contract: splitting the corpus into two
    ingestion batches (store advanced with ALL of batch 1's
    fingerprints, batch 2 probing them) yields EXACTLY the decisions
    of one-shot processing of the union with an empty store — for
    every doc, same is_dup, same dup_of provenance."""
    from pipelines_spark.llm.dedup import (
        incremental_dedup_batch,
        minhash_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    empty = docs.filter(F.lit(False))
    empty_fps = minhash_fingerprints(empty, id_col="doc_id", text_col="text")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)

    d1 = incremental_dedup_batch(b1, empty_fps, empty)
    fps1 = minhash_fingerprints(b1, id_col="doc_id", text_col="text")
    d2 = incremental_dedup_batch(b2, fps1, b1)
    oneshot = incremental_dedup_batch(docs, empty_fps, empty)

    incremental = {tuple(r) for r in d1.collect()} | {
        tuple(r) for r in d2.collect()
    }
    expected = {tuple(r) for r in oneshot.collect()}
    assert incremental == expected
    # the corpus actually contains cross-batch duplicates, or the
    # equivalence would be vacuous
    assert any(
        r["is_dup"] and r["dup_of"] < 250 for r in d2.collect()
    ), "expected at least one batch-2 doc duplicating a store doc"


def test_incremental_dedup_restart_replays_from_durable_state(
    spark, sf_small, tmp_path
):
    """The scenario staging="checkpoint" exists for (r11 verdict #6):
    an ingestion loop is KILLED mid-batch — after the fingerprint
    store advanced, before the batch's decisions committed — and a
    fresh process resumes by replaying the batch against the durable
    on-disk state. The kill is real (a subprocess JVM hard-exits with
    os._exit between the store write and the decision commit), and
    the resumed run must (a) reproduce EXACTLY the uninterrupted
    run's decisions despite the replayed batch's own fingerprints
    already sitting in the store (the _prev_id != _new_id replay
    guard), and (b) actually write reliable-checkpoint files it could
    survive executor loss from."""
    import os
    import subprocess
    import sys

    from pipelines_spark.llm.dedup import (
        incremental_dedup_batch,
        minhash_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    store_docs_path = str(tmp_path / "store_docs")
    batch_path = str(tmp_path / "batch")
    fps_store = str(tmp_path / "fps_store")
    docs.filter(F.col("doc_id") < 250).write.parquet(store_docs_path)
    docs.filter(F.col("doc_id") >= 250).write.parquet(batch_path)

    # ground truth: the uninterrupted run (store WITHOUT the batch's
    # own fingerprints)
    store = spark.read.parquet(store_docs_path)
    batch = spark.read.parquet(batch_path)
    clean_fps = minhash_fingerprints(store, id_col="doc_id", text_col="text")
    expected = {
        tuple(r)
        for r in incremental_dedup_batch(batch, clean_fps, store).collect()
    }

    # phase A (separate JVM): seed the store's fingerprints, ingest
    # the batch far enough to ADVANCE the fingerprint store, then die
    # hard before committing decisions — the mid-loop kill.
    phase_a = f"""
import os
from pyspark.sql import SparkSession, functions as F
from pipelines_spark.llm.dedup import minhash_fingerprints, persist_fingerprints
spark = (SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate())
store = spark.read.parquet({store_docs_path!r})
batch = spark.read.parquet({batch_path!r})
persist_fingerprints(
    minhash_fingerprints(store, id_col="doc_id", text_col="text"),
    {fps_store!r}, "store")
persist_fingerprints(
    minhash_fingerprints(batch, id_col="doc_id", text_col="text"),
    {fps_store!r}, "batch_001")
print("STORE_ADVANCED", flush=True)
os._exit(137)  # the kill: no decision commit, no clean shutdown
"""
    env = dict(os.environ, PYTHONPATH=os.getcwd())
    proc = subprocess.run(
        [sys.executable, "-c", phase_a],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert "STORE_ADVANCED" in proc.stdout, proc.stderr[-2000:]
    assert proc.returncode == 137  # died hard, as designed

    # phase B (this session = the restarted process): resume from the
    # durable on-disk state only — the store now ALREADY CONTAINS the
    # killed batch's fingerprints, so this is a replay.
    ckpt_dir = tmp_path / "resume_ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt_dir))
    replayed_fps = spark.read.parquet(fps_store).select(
        "doc_id", "band_no", "band_key"
    )
    resumed = {
        tuple(r)
        for r in incremental_dedup_batch(
            batch, replayed_fps, store, staging="checkpoint"
        ).collect()
    }
    assert resumed == expected
    ckpt_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt_dir) for f in fs
    ]
    assert ckpt_files, "resumed run wrote no reliable-checkpoint files"


def test_incremental_dedup_checkpoint_staging_mode(spark, sf_small, tmp_path):
    """staging="checkpoint" (the durable posture for preemption-prone
    clusters) writes the staged frames to the reliable checkpoint dir
    and yields EXACTLY the decisions of the default local mode."""
    from pipelines_spark.llm.dedup import (
        incremental_dedup_batch,
        minhash_fingerprints,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    store = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    fps = minhash_fingerprints(store, id_col="doc_id", text_col="text")
    local = {
        tuple(r) for r in incremental_dedup_batch(batch, fps, store).collect()
    }
    durable = {
        tuple(r)
        for r in incremental_dedup_batch(
            batch, fps, store, staging="checkpoint"
        ).collect()
    }
    assert durable == local
    # the durable mode actually wrote checkpoint files
    import os

    ckpt_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tmp_path / "ckpt")
        for f in fs
    ]
    assert ckpt_files, "checkpoint mode produced no reliable-checkpoint files"


def test_persist_fingerprints_idempotent_rerun(spark, tmp_path):
    """Re-running an ingestion batch replaces its own fingerprint
    partition instead of duplicating rows (the idempotent-load
    discipline applied to the dedup store)."""
    from pipelines_spark.llm.dedup import (
        minhash_fingerprints,
        persist_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different sentence about spark and parquet files")],
        "doc_id long, text string",
    )
    fps = minhash_fingerprints(docs, id_col="doc_id", text_col="text")
    store = str(tmp_path / "fps")
    persist_fingerprints(fps, store, "2024-01-01")
    n1 = spark.read.parquet(store).count()
    persist_fingerprints(fps, store, "2024-01-01")  # re-run same batch
    assert spark.read.parquet(store).count() == n1
    persist_fingerprints(fps, store, "2024-01-02")  # next batch appends
    assert spark.read.parquet(store).count() == 2 * n1


def test_minhash_default_cap_leaves_normal_corpus_unchanged(spark, sf_medium):
    """The default cap must not change results on a realistic corpus
    (no bucket approaches 1000 members at sf0.01)."""
    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    capped = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.5
    )
    uncapped = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.5,
        max_bucket_size=None,
    )
    assert {tuple(r) for r in capped.collect()} == {
        tuple(r) for r in uncapped.collect()
    }
    # headroom check at the driver's larger scale: the max LSH bucket
    # at sf0.1 must sit far below the default cap, so the capped and
    # uncapped paths provably agree on the whole correctness-gate
    # data. Uses the operator's own band_key_cols helper — the
    # measured distribution cannot drift from the production formula.
    docs_big = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    from pipelines_spark.llm.dedup import (
        _minhash_signatures,
        band_key_cols,
        word_shingles,
    )

    shingled = docs_big.select(
        F.col("doc_id"), word_shingles("text", 3).alias("_sh")
    ).filter(F.size("_sh") > 0)
    sigs = _minhash_signatures(shingled, "doc_id", F.col("_sh"), 32)
    max_bucket = (
        sigs.select(F.explode(F.array(*band_key_cols(32, 8))).alias("_band"))
        .groupBy("_band")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_bucket < 500, max_bucket


def test_ngram_jaccard_posting_list_cap(spark, caplog):
    """The exact inverted index goes quadratic on boilerplate
    shingles; the posting-list cap drops hot shingles from candidate
    generation (logged) while pairs sharing non-hot shingles still
    surface exactly."""
    import logging

    boiler = "shared boilerplate header text appears everywhere in this corpus"
    rows = [(i, boiler) for i in range(200)]
    rows += [
        (1000, "rare specific discussion of columnar shuffle compaction"),
        (1001, "rare specific discussion of columnar shuffle compression"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.WARNING, logger="pipelines_spark.llm.dedup"):
        got = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                df, id_col="doc_id", text_col="text", threshold=0.4,
                max_shingle_freq=50,
            ).collect()
        }
    assert any("hot shingle" in m for m in caplog.messages), caplog.messages
    # the 200-doc boilerplate clique produced no pairs...
    assert not any(a < 200 and b < 200 for a, b in got)
    # ...but the rare near-dup pair did
    assert (1000, 1001) in got


def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "tango uniform victor whisky xray yankee zulu")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"], r["hamming"]) for r in simhash_pairs(df, id_col="doc_id", text_col="text").collect()}
    assert (1, 2, 0) in pairs
    assert not any(3 in (a, b) for a, b, _ in pairs)


def test_simhash_hot_block_cap(spark, caplog):
    """Degenerate docs sharing one hash form hot block groups; the cap
    drops them (logged) while rare near-dups still pair via their own
    (small) block groups."""
    import logging

    rows = [(i, "identical degenerate filler text block") for i in range(100)]
    rows += [
        (1000, "meaningful unique article about watermark semantics today"),
        (1001, "meaningful unique article about watermark semantics tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.WARNING, logger="pipelines_spark.llm.dedup"):
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_pairs(
                df, id_col="doc_id", text_col="text", max_block_group=20
            ).collect()
        }
    assert any("hot block" in m for m in caplog.messages), caplog.messages
    assert not any(a < 100 and b < 100 for a, b in got)
    assert (1000, 1001) in got


def test_brute_force_topk_exact_neighbor(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 1), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got[0] == (2, 1)


def test_cosine_unrolled_bit_identical_to_fold(spark):
    """r12: the unrolled codegen dot/norm chains (``dim`` given) and
    the hoisted-norm pair form must be BIT-identical to the original
    interpreted higher-order fold — same left-to-right float addition
    order — or every rounded-then-ranked consumer could flip a rank
    at the rounding boundary."""
    from pyspark.sql import Row

    from pipelines_spark.llm.similarity import (
        _norm_col,
        _pair_cosine,
        cosine_similarity,
    )

    import random

    rng = random.Random(12)
    rows = [
        Row(i=i, a=[rng.uniform(-1, 1) for _ in range(64)],
            b=[rng.uniform(-1, 1) for _ in range(64)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "i long, a array<float>, b array<float>")
    out = df.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("fold"),
        cosine_similarity(F.col("a"), F.col("b"), 64).alias("unrolled"),
        _pair_cosine(
            F.col("a"), F.col("b"),
            _norm_col(F.col("a"), 64), _norm_col(F.col("b"), 64), 64,
        ).alias("hoisted"),
    ).collect()
    for r in out:
        assert repr(r["fold"]) == repr(r["unrolled"]) == repr(r["hoisted"])


def test_brute_force_topk_default_dim_generic(spark):
    """The ``dim`` unroll must stay opt-in: the default path has to
    keep working for vectors of ANY width (the unrolled chain indexes
    past the end of short arrays)."""
    rows = [(i, [float(i == j) for j in range(5)]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert len(out) == 2 and all(r["cosine"] is not None for r in out)


def test_language_id_und_and_en(spark):
    df = spark.createDataFrame(
        [(1, "qqq www zzz"), (2, "the cat sat on the mat for a while")],
        "doc_id long, text string",
    )
    out = dict(
        (r["doc_id"], r["lang"]) for r in df.select("doc_id", language_id("text").alias("lang")).collect()
    )
    assert out[1] == "und"
    assert out[2] == "en"


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        quality_score("text").alias("q"),
        token_count("text").alias("n"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert 0.0 <= by_id[1]["q"] <= 1.0
    assert by_id[1]["n"] == 9
    assert by_id[2]["n"] == 0


def test_multimodal_feature_extraction_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\x00png-ish payload bytes")), (2, bytearray(b"tiny"))],
        "item_id long, content binary",
    )
    df = attach_binary_metadata(df, mime="image/png")
    feats = extract_image_features(df)
    rows = {r["item_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] == 23
    assert rows[1]["mime"] == "image/png"
    assert len(rows[1]["feature"]) == 4
    assert rows[1]["width"] >= 16 and rows[1]["height"] >= 16
    # deterministic: same payload -> same feature
    again = {r["item_id"]: r for r in extract_image_features(df).collect()}
    assert again[1]["feature"] == rows[1]["feature"]


def test_sample_frames_shape(spark):
    df = spark.createDataFrame([(1, bytearray(b"x" * 25))], "item_id long, content binary")
    frames = sample_frames(df, every_n=10)
    got = [r["frame_no"] for r in frames.collect()]
    assert got == [0, 10, 20]


def test_avi_mjpeg_roundtrip_and_video_frames(spark):
    """MJPEG-in-AVI: container round-trip (build_avi → parse_avi),
    then extract_video_frames decodes every sampled frame for REAL —
    true dimensions, container timing, channel features — with a mix
    of baseline and progressive JPEG frames; a non-AVI payload falls
    back to the stub rows with NULL timing."""
    import numpy as np

    from pipelines_spark.llm.avi import build_avi, parse_avi
    from pipelines_spark.llm.jpeg import encode_jpeg, encode_jpeg_progressive
    from pipelines_spark.llm.multimodal import extract_video_frames

    w, h = 24, 16
    frames = []
    for i in range(7):
        img = np.zeros((h, w, 3), dtype=np.uint8)
        img[:, :, 0] = 30 * i  # red ramps per frame
        img[:, :, 1] = 100
        enc = encode_jpeg_progressive if i % 2 else encode_jpeg
        frames.append(enc(img, quant=1, subsampling="444"))
    avi = build_avi(frames, width=w, height=h, fps=5.0)

    vid = parse_avi(avi)
    assert (vid.width, vid.height) == (w, h)
    assert len(vid.frames) == 7
    assert vid.frames[3] == frames[3]
    assert abs(vid.fps - 5.0) < 1e-6

    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"not a video" * 3))],
        "item_id long, content binary",
    )
    rows = [tuple(r) for r in extract_video_frames(df, every_n=3).collect()]
    real = sorted(r for r in rows if r[0] == 1)
    assert [r[1] for r in real] == [0, 3, 6]  # sampled frame_nos
    for frame_no, r in zip([0, 3, 6], real):
        _id, _no, ts_ms, fw, fh, feature = r
        assert (fw, fh) == (w, h)
        assert abs(ts_ms - frame_no * 200.0) < 1e-6  # 5 fps → 200 ms
        assert abs(feature[0] - (30 * frame_no) / 255.0) < 0.02
        assert abs(feature[1] - 100 / 255.0) < 0.02
    stub = [r for r in rows if r[0] == 2]
    assert stub and all(r[2] is None for r in stub)  # NULL timing


def test_connected_components_matches_union_find(spark):
    # labeled graph: {1,2,3,9} chained, {5,6} pair, {7,8} pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6), (8, 7)], "id_a long, id_b long"
    )
    from pipelines_spark.llm.dedup import connected_components

    got = {
        (r["node"], r["component_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (9, 1),
        (5, 5), (6, 5),
        (7, 7), (8, 7),
    }


def test_connected_components_long_chain_converges(spark):
    # a 12-node path needs several propagation rounds — exercises the
    # fixpoint loop, not just one hop
    edges = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    from pipelines_spark.llm.dedup import connected_components

    got = connected_components(pairs)
    assert got.select("component_id").distinct().count() == 1
    assert got.count() == 13


def test_ivf_topk_recall_vs_brute_force(spark, sf_medium):
    from pipelines_spark.llm.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=2).collect()
    }
    # every query answered with k results
    assert len(approx) == len(exact)
    # nprobe=2 over 16 cells should recover a meaningful share of
    # the true neighbors — this guards against degenerate assignment
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall


def test_knn_graph_edges_match_within_cell_truth(spark, sf_medium):
    """Every vector gets ranked edges; each src's edge set equals the
    exact top-k among the vectors sharing its cell (the operator's
    contract — approximate only in the cell partition, exact within
    it). Verified by recomputing cells via ivf_topk's own assignment
    path: a src's neighbors must all share its cell."""
    from pipelines_spark.llm.similarity import knn_graph

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    edges = knn_graph(emb, k=3, n_centroids=8).collect()
    by_src = {}
    for r in edges:
        by_src.setdefault(r["src_id"], []).append((r["rank"], r["dst_id"], r["cosine"]))
    n = emb.count()
    assert len(by_src) == n
    for src, es in by_src.items():
        ranks = sorted(r for r, _, _ in es)
        assert ranks == list(range(1, len(es) + 1))
        # ranked by cosine desc, dst asc
        ordered = sorted(es)
        cosines = [c for _, _, c in ordered]
        assert cosines == sorted(cosines, reverse=True) or all(
            cosines[i] > cosines[i + 1]
            or (cosines[i] == cosines[i + 1] and ordered[i][1] < ordered[i + 1][1])
            for i in range(len(cosines) - 1)
        )


def test_knn_graph_cell_cap_is_deterministic_and_bounds_neighbors(spark, sf_medium):
    """max_cell_rows caps the NEIGHBOR side per cell: results stay
    deterministic across runs, every dst comes from the capped
    subset, and srcs keep getting ranked edges."""
    from pipelines_spark.llm.similarity import knn_graph

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    a = sorted(map(tuple, knn_graph(emb, k=3, n_centroids=4, max_cell_rows=10).collect()))
    b = sorted(map(tuple, knn_graph(emb, k=3, n_centroids=4, max_cell_rows=10).collect()))
    assert a == b and len(a) > 0
    # with 4 cells and a 10-row neighbor cap, at most 40 distinct dsts
    assert len({t[1] for t in a}) <= 40
    # uncapped yields at least as many edges
    full = knn_graph(emb, k=3, n_centroids=4).collect()
    assert len(full) >= len(a)


def test_kmeans_train_deterministic_and_moves_centroids(spark, sf_medium):
    import numpy as np

    from pipelines_spark.llm.similarity import kmeans_train

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    c1 = kmeans_train(emb, k=8, iters=2)
    c2 = kmeans_train(emb, k=8, iters=2)
    # bit-identical across runs/partitionings (exact integer means)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)
    # training actually moved the centroids off the init sample
    init = kmeans_train(emb, k=8, iters=0)
    assert not np.array_equal(c1, init)


def test_ivf_kmeans_recall_vs_brute_force(spark, sf_medium):
    from pipelines_spark.llm.similarity import ivf_kmeans_topk

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_kmeans_topk(
            emb, queries, k=5, n_centroids=8, iters=2, nprobe=2
        ).collect()
    }
    assert len(approx) == len(exact)
    # trained cells with nprobe=2 of 8 must at least match the
    # untrained sample's recall floor
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall


def test_audio_windowing_shape(spark):
    from pipelines_spark.llm.multimodal import extract_audio_features

    # 2.5 s of fake 16-bit mono at 1 kHz = 5000 bytes → 3 windows
    rows = [(1, bytes(range(256)) * 20, 1000), (2, b"", 1000)]
    df = spark.createDataFrame(
        rows, "item_id long, content binary, sample_rate int"
    )
    out = extract_audio_features(df, window_ms=1000).collect()
    by_item = {}
    for r in out:
        by_item.setdefault(r["item_id"], []).append(r)
    assert len(by_item[1]) == 3  # 5120 bytes → 2560 samples → 3 windows
    assert [r["start_ms"] for r in sorted(by_item[1], key=lambda r: r["window_no"])] == [
        0, 1000, 2000,
    ]
    assert all(r["rms"] is not None for r in by_item[1])
    assert 2 not in by_item  # empty payload emits no windows


def test_resize_images_payload_contract(spark):
    from pipelines_spark.llm.multimodal import resize_images

    rows = [(1, b"\x01" * 10), (2, b"\x02" * 9000), (3, None)]
    df = spark.createDataFrame(rows, "item_id long, content binary")
    out = {r["item_id"]: r for r in resize_images(df, target=(64, 64)).collect()}
    assert all(len(out[i]["content"]) == 64 * 64 for i in (1, 2, 3))
    assert out[1]["content"][:10] == b"\x01" * 10
    assert (out[2]["width"], out[2]["height"]) == (64, 64)


def test_bmp_codec_roundtrip_and_resize():
    import numpy as np

    from pipelines_spark.llm.codecs import decode_bmp, encode_bmp, resize_nearest

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)  # odd width: row padding
    assert (decode_bmp(encode_bmp(px)) == px).all()
    small = resize_nearest(px, (2, 2))
    assert small.shape == (2, 2, 3)
    assert (small[0, 0] == px[0, 0]).all()


def test_image_features_real_bmp_decode(spark):
    """A real 24-bit BMP decodes to its true dimensions and channel
    statistics — not the stub's byte-derived fake."""
    import numpy as np

    from pipelines_spark.llm.codecs import encode_bmp
    from pipelines_spark.llm.multimodal import extract_image_features

    solid = np.zeros((10, 20, 3), dtype=np.uint8)
    solid[:, :, 0] = 200  # R
    solid[:, :, 1] = 100  # G
    solid[:, :, 2] = 50   # B
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(solid)))], "item_id long, content binary"
    )
    row = extract_image_features(df).collect()[0]
    assert (row["width"], row["height"]) == (20, 10)
    r, g, b, gray_std = row["feature"]
    assert abs(r - 200 / 255) < 1e-6
    assert abs(g - 100 / 255) < 1e-6
    assert abs(b - 50 / 255) < 1e-6
    assert gray_std < 1e-6  # solid color


def test_audio_features_real_wav_rms(spark):
    """A RIFF/WAV payload gets a true PCM decode: header sample rate
    wins and per-window RMS of a sine is amplitude/sqrt(2)."""
    import math

    import numpy as np

    from pipelines_spark.llm.codecs import encode_wav
    from pipelines_spark.llm.multimodal import extract_audio_features

    rate = 8000
    t = np.arange(rate * 2)  # 2 s
    sine = 0.5 * np.sin(2 * np.pi * 440 * t / rate)
    wav = encode_wav(sine, rate)
    # sample_rate column deliberately wrong: the WAV header must win
    df = spark.createDataFrame(
        [(1, bytearray(wav), 999)], "item_id long, content binary, sample_rate int"
    )
    out = sorted(
        extract_audio_features(df, window_ms=1000).collect(),
        key=lambda r: r["window_no"],
    )
    assert len(out) == 2  # 2 s at header rate → two 1 s windows
    for r in out:
        assert r["n_samples"] == rate
        assert abs(r["rms"] - 0.5 / math.sqrt(2)) < 0.01


def test_resize_images_real_bmp(spark):
    import numpy as np

    from pipelines_spark.llm.codecs import decode_bmp, encode_bmp
    from pipelines_spark.llm.multimodal import resize_images

    solid = np.full((8, 8, 3), 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(solid)))], "item_id long, content binary"
    )
    row = resize_images(df, target=(4, 2)).collect()[0]
    out_px = decode_bmp(bytes(row["content"]))
    assert out_px.shape == (2, 4, 3)
    assert (out_px == 77).all()


def test_deterministic_sampling_stability(spark):
    from pipelines_spark.llm.sampling import assign_split, sample_fraction

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in sample_fraction(df, "doc_id", percent=10).collect()}
    s2 = {r["doc_id"] for r in sample_fraction(df, "doc_id", percent=10).collect()}
    assert s1 == s2                      # reproducible
    assert 50 <= len(s1) <= 150         # ~10%
    # growth stability: the same ids keep their assignment in a bigger set
    bigger = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s3 = {
        r["doc_id"]
        for r in sample_fraction(bigger, "doc_id", percent=10).collect()
        if r["doc_id"] < 1000
    }
    assert s3 == s1
    # salted sampling decorrelates
    salted = {
        r["doc_id"]
        for r in sample_fraction(df, "doc_id", percent=10, salt="v2").collect()
    }
    assert salted != s1
    # split covers every row exactly once with sane proportions
    splits = assign_split(df, "doc_id").groupBy("split").count().collect()
    got = {r["split"]: r["count"] for r in splits}
    assert sum(got.values()) == 1000 and set(got) == {"train", "val", "test"}
    assert got["train"] > got["val"] and got["train"] > got["test"]

def test_stratified_sample_caps_only_oversized_strata(spark):
    from pipelines_spark.llm.sampling import stratified_sample

    rows = [(i, "big" if i < 800 else "small") for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = stratified_sample(df, "doc_id", ["lang"], cap=100, salt="t")
    by_lang = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by_lang["small"] == 100          # under cap: kept whole
    assert 60 <= by_lang["big"] <= 140      # binomial around the cap
    # reproducible
    kept2 = stratified_sample(df, "doc_id", ["lang"], cap=100, salt="t")
    assert {r["doc_id"] for r in kept.collect()} == {
        r["doc_id"] for r in kept2.collect()
    }


def test_bm25_ranks_term_dense_docs_first(spark):
    from pipelines_spark.llm.search import bm25_topk

    rows = [
        (0, "join join join filter scan"),
        (1, "join filter scan scan scan scan scan scan"),
        (2, "filter scan order group sort"),
        (3, "join"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(df, ("join",), k=3).collect()
    # tf saturation: tf=3 (doc 0) outranks the short tf=1 doc 3;
    # the long tf=1 doc 1 ranks below both (length normalization)
    assert [r["doc_id"] for r in got] == [0, 3, 1]
    assert got[0]["rank"] == 1
    assert all(r["n_terms_hit"] == 1 for r in got)


def test_bm25_duplicate_terms_and_empty_query(spark):
    from pipelines_spark.llm.search import bm25_topk

    rows = [
        (0, "join join join filter scan"),
        (1, "join filter scan scan scan scan scan scan"),
        (2, "filter scan order group sort"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = bm25_topk(df, ("join",), k=3).collect()
    twice = bm25_topk(df, ("join", "join"), k=3).collect()
    # a repeated query term scores exactly once
    assert [(r["doc_id"], r["score"], r["n_terms_hit"]) for r in twice] == [
        (r["doc_id"], r["score"], r["n_terms_hit"]) for r in once
    ]
    empty = bm25_topk(df, (), k=3)
    assert empty.count() == 0
    # the hand-built empty schema must track the scoring path exactly
    assert empty.dtypes == bm25_topk(df, ("join",), k=3).dtypes


def test_chunk_documents_overlap_and_edges(spark):
    from pipelines_spark.llm.chunking import chunk_documents

    long_doc = " ".join(f"t{i}" for i in range(100))  # 100 tokens
    rows = [(0, long_doc), (1, "a b c"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 100 tokens, stride 48: ceil((100-16)/48) = 2 chunks
    c0, c1 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert (c0["n_tokens"], c1["n_tokens"]) == (64, 52)  # 48..99
    t0, t1 = c0["chunk_text"].split(" "), c1["chunk_text"].split(" ")
    assert t1[0] == "t48" and t0[48:] == t1[:16]  # 16-token overlap
    # short and empty docs still yield exactly one chunk
    assert len(by_doc[1]) == 1 and by_doc[1][0]["n_tokens"] == 3
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 0


def test_boilerplate_detection_planted_phrase(spark):
    """A phrase planted in most docs is flagged as boilerplate; docs
    carrying it score a high ratio, clean docs score zero."""
    from pipelines_spark.llm.text import boilerplate_ratio, boilerplate_shingles

    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique payload number {i} follows here") for i in range(20)]
    rows.append((100, "entirely clean document with original words only present"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bp = boilerplate_shingles(docs, max_doc_frac=0.5)
    bp_set = {r["sh"] for r in bp.collect()}
    # the planted phrase's shingles (and nothing doc-unique) flagged
    assert "all rights reserved" in bp_set
    assert not any("number" in s and s.split()[-1].isdigit() for s in bp_set)
    ratios = {
        r["doc_id"]: r["boilerplate_ratio"]
        for r in boilerplate_ratio(docs, bp).collect()
    }
    assert ratios[100] == 0.0
    assert ratios[0] > 0.3


def test_curate_corpus_end_to_end(spark, sf_medium):
    """The composed curation pipeline: gates remove junk, exact and
    near-dup stages keep one doc per group, every survivor gets a
    split and a shard, and the stats frame tracks the funnel."""
    from pipelines_spark.llm.curation import CurationConfig, curate_corpus

    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    curated, stats = curate_corpus(
        docs,
        CurationConfig(min_quality=0.2, min_tokens=5, shard_tokens=5000),
    )
    funnel = {r["stage"]: r["n_docs"] for r in stats.collect()}
    n = curated.count()
    assert funnel["input"] == 500
    assert (
        funnel["input"]
        >= funnel["quality_lang_gate"]
        >= funnel["exact_dedup"]
        >= funnel["near_dup_canonical"]
        == n
        > 0
    )
    # near-dups collapsed: curated doc ids are componentwise unique
    assert curated.select("component_id").distinct().count() == n
    # every survivor carries split + shard assignment and features
    row = curated.first()
    assert row["split"] in ("train", "val", "test")
    assert row["shard_no"] >= 0 and row["n_tokens"] >= 5
    # deterministic end to end
    again, _ = curate_corpus(
        docs, CurationConfig(min_quality=0.2, min_tokens=5, shard_tokens=5000)
    )
    assert {r["doc_id"] for r in curated.collect()} == {
        r["doc_id"] for r in again.collect()
    }


def test_cap_per_source_keeps_best_and_is_deterministic(spark):
    """Per-source cap keeps exactly n_max rows per over-cap source
    (the highest-order ones, id-asc ties) and all rows of under-cap
    sources; result is partitioning-independent."""
    from pipelines_spark.llm.sampling import cap_per_source

    rows = [(i, "big", float(i % 7)) for i in range(50)] + [
        (100 + i, "small", 1.0) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "quality"])
    kept = cap_per_source(df, n_max=10).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append((r["quality"], r["doc_id"]))
    assert len(by_src["big"]) == 10 and len(by_src["small"]) == 3
    # the kept 'big' rows are the top-10 by (quality desc, id asc)
    expect = sorted(
        ((float(i % 7), i) for i in range(50)), key=lambda t: (-t[0], t[1])
    )[:10]
    assert sorted(by_src["big"], key=lambda t: (-t[0], t[1])) == expect
    again = cap_per_source(df.repartition(7), n_max=10).collect()
    assert sorted(map(tuple, kept)) == sorted(map(tuple, again))


def test_curate_corpus_source_cap_stage(spark, sf_medium):
    """max_per_source adds a source_cap funnel stage that bounds every
    source to the cap and feeds the downstream stages the shrunk
    corpus."""
    from pipelines_spark.llm.curation import CurationConfig, curate_corpus

    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    curated, stats = curate_corpus(
        docs,
        CurationConfig(
            min_quality=0.0, min_tokens=1, shard_tokens=5000, max_per_source=20
        ),
    )
    funnel = {r["stage"]: r["n_docs"] for r in stats.collect()}
    assert funnel["quality_lang_gate"] >= funnel["source_cap"] >= funnel["exact_dedup"]
    n_sources = docs.select("source").distinct().count()
    assert funnel["source_cap"] <= 20 * n_sources
    per_src = curated.groupBy("source").count().collect()
    assert all(r["count"] <= 20 for r in per_src)


def test_pack_token_shards_budget_and_stability(spark):
    """Greedy packing: within a bucket each shard's token sum stays
    under budget + one max doc (first-fit property), assignment is
    identical under different partitionings, and shards are contiguous
    in hash order."""
    from pipelines_spark.llm.sampling import pack_token_shards

    df = spark.range(0, 400).withColumnRenamed("id", "doc_id").withColumn(
        "n_tokens", (F.col("doc_id") % 97 + 5).cast("int")
    )
    packed = pack_token_shards(df, "doc_id", "n_tokens", shard_tokens=500)
    sums = packed.groupBy("bucket", "shard_no").agg(
        F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx")
    )
    for r in sums.collect():
        # exclusive-cumsum first-fit: a shard can exceed the budget by
        # at most its last (single) document
        assert r["tot"] < 500 + 102, r
    # deterministic under repartitioning
    a = {(r["doc_id"], r["bucket"], r["shard_no"]) for r in packed.collect()}
    b = {
        (r["doc_id"], r["bucket"], r["shard_no"])
        for r in pack_token_shards(
            df.repartition(13), "doc_id", "n_tokens", shard_tokens=500
        ).collect()
    }
    assert a == b


def test_redact_pii_order_and_counts(spark):
    from pipelines_spark.llm.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b@host.co.uk and 10.1.2.3 twice 10.1.2.4"),
            (2, "call 555-123-4567 or 555-1234-4567"),
            (3, "no pii here"),
        ],
        "id long, t string",
    )
    out = {
        r["id"]: (r["red"], r["c"]["n_email"], r["c"]["n_phone"], r["c"]["n_ipv4"])
        for r in df.select(
            "id", redact_pii("t").alias("red"), pii_counts("t").alias("c")
        ).collect()
    }
    # the dotted email is consumed by the email pattern, never as an IP
    assert out[1] == ("mail <EMAIL> and <IP> twice <IP>", 1, 0, 2)
    assert out[2] == ("call <PHONE> or <PHONE>", 0, 2, 0)
    assert out[3] == ("no pii here", 0, 0, 0)


def test_png_codec_roundtrip_and_filters():
    """encode_png → decode_png round-trips exactly, and the decoder
    handles every scanline filter type plus gray/RGBA inputs (built
    by hand with per-row filter bytes)."""
    import struct as st
    import zlib

    import numpy as np

    from pipelines_spark.llm.codecs import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)

    # hand-build a PNG exercising filters Sub(1), Up(2), Average(3),
    # Paeth(4) — reference filtering applied forward, decoder must invert
    h, w, ch = 5, 7, 3
    px = rng.integers(0, 256, (h, w * ch), dtype=np.uint8).astype(np.int64)
    filters = [0, 1, 2, 3, 4]
    raw = bytearray()
    for y, f in enumerate(filters):
        prev = px[y - 1] if y else np.zeros(w * ch, np.int64)
        line = np.zeros(w * ch, np.int64)
        for x in range(w * ch):
            a = px[y][x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (px[y][x] - pred) & 0xFF
        raw.append(f)
        raw.extend(line.astype(np.uint8).tobytes())
    ihdr = st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    got = decode_png(payload)
    assert np.array_equal(got, px.astype(np.uint8).reshape(h, w, ch))

    # RGBA drops alpha; grayscale replicates
    rgba = np.dstack([img, np.full((9, 13), 128, np.uint8)])
    raw4 = b"".join(b"\x00" + rgba[y].tobytes() for y in range(9))
    p4 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", st.pack(">IIBBBBB", 13, 9, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw4))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(p4), img)
    gray = img[:, :, 0]
    rawg = b"".join(b"\x00" + gray[y].tobytes() for y in range(9))
    pg = (
        _PNG_SIG
        + _png_chunk(b"IHDR", st.pack(">IIBBBBB", 13, 9, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(rawg))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(pg), np.repeat(gray[:, :, None], 3, axis=2))

    # degenerate zero-area PNGs are rejected (callers stub, not NaN)
    import pytest

    p0 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", st.pack(">IIBBBBB", 5, 0, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b""))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(p0)


def test_png_variants_palette_16bit_adam7():
    """The core-spec PNG long tail decodes for real: Adam7 interlace,
    palette color at depths 1/2/4/8, 16-bit grayscale (high byte),
    and sub-byte grayscale."""
    import struct as st
    import zlib

    import numpy as np

    from pipelines_spark.llm.codecs import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
        encode_png_gray16,
        encode_png_palette,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (23, 37, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img, interlace=True)), img)
    tiny = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)  # partial passes
    assert np.array_equal(decode_png(encode_png(tiny, interlace=True)), tiny)
    one = rng.integers(0, 256, (1, 1, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(one, interlace=True)), one)

    for depth, n in ((8, 200), (4, 16), (2, 4), (1, 2)):
        pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, (19, 29), dtype=np.uint8)
        dec = decode_png(encode_png_palette(idx, pal, depth=depth))
        assert np.array_equal(dec, pal[idx]), f"palette depth {depth}"

    g16 = rng.integers(0, 65536, (11, 13)).astype(np.uint16)
    dec = decode_png(encode_png_gray16(g16))
    assert np.array_equal(dec[:, :, 0], (g16 >> 8).astype(np.uint8))

    # 1-bit grayscale rescales 0/1 → 0/255
    bits = rng.integers(0, 2, (8, 11), dtype=np.uint8)
    packed_rows = bytearray()
    for y in range(8):
        padded = np.pad(bits[y], (0, (-11) % 8))
        vals = np.zeros(padded.size // 8, dtype=np.uint8)
        for i in range(8):
            vals = (vals << 1) | padded.reshape(-1, 8)[:, i]
        packed_rows += b"\x00" + vals.tobytes()
    p1 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", st.pack(">IIBBBBB", 11, 8, 1, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(packed_rows)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(p1)[:, :, 0], bits * 255)


def test_gif_codec_roundtrip(spark):
    """GIF (LZW, palette, interlace, 89a extensions) decodes for
    real — plain and interlaced round-trips, LZW table-reset streams,
    extension skipping, >256-color encode refusal — and flows through
    the image-features kernel like every other still format."""
    import numpy as np

    from pipelines_spark.llm.codecs import decode_gif, encode_gif, image_format
    from pipelines_spark.llm.multimodal import extract_image_features

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(37, 3)).astype(np.uint8)
    img = pal[rng.integers(0, 37, size=(25, 33))]
    for interlace in (False, True):
        buf = encode_gif(img, interlace=interlace)
        assert image_format(buf) == "gif"
        assert np.array_equal(decode_gif(buf), img), interlace

    # big frame forces LZW dictionary resets (> 4096 codes)
    big_pal = rng.integers(0, 256, size=(250, 3)).astype(np.uint8)
    big = big_pal[rng.integers(0, 250, size=(120, 200))]
    assert np.array_equal(decode_gif(encode_gif(big)), big)

    # 89a graphic-control extension between GCT and image: skipped
    buf = encode_gif(img)
    gct_len = (2 << (buf[10] & 7)) * 3
    spliced = buf[: 13 + gct_len] + b"\x21\xf9\x04\x00\x00\x00\x00\x00" + buf[13 + gct_len :]
    assert np.array_equal(decode_gif(spliced), img)

    import pytest

    with pytest.raises(ValueError, match="256"):
        encode_gif(rng.integers(0, 256, size=(40, 40, 3)).astype(np.uint8))

    solid = np.zeros((10, 20, 3), dtype=np.uint8)
    solid[:, :] = (200, 100, 50)
    df = spark.createDataFrame(
        [(1, bytearray(encode_gif(solid)))], "item_id long, content binary"
    )
    row = extract_image_features(df).collect()[0]
    assert (row["width"], row["height"]) == (20, 10)
    assert abs(row["feature"][0] - 200 / 255) < 0.01


def test_image_features_real_png_decode(spark):
    """A real PNG decodes to true dimensions/stats through the same
    mapInPandas kernel as BMP, and resize re-encodes as PNG."""
    import numpy as np

    from pipelines_spark.llm.codecs import _PNG_SIG, decode_png, encode_png
    from pipelines_spark.llm.multimodal import extract_image_features, resize_images

    solid = np.zeros((10, 20, 3), dtype=np.uint8)
    solid[:, :, 0] = 200
    solid[:, :, 1] = 100
    solid[:, :, 2] = 50
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(solid)))], "item_id long, content binary"
    )
    row = extract_image_features(df).collect()[0]
    assert (row["width"], row["height"]) == (20, 10)
    r, g, b, gray_std = row["feature"]
    assert abs(r - 200 / 255) < 1e-6 and abs(g - 100 / 255) < 1e-6
    assert abs(b - 50 / 255) < 1e-6 and gray_std < 1e-6

    small = resize_images(df, target=(4, 4)).collect()[0]
    out = bytes(small["content"])
    assert out[:8] == _PNG_SIG  # stays PNG
    px = decode_png(out)
    assert px.shape == (4, 4, 3)
    assert (px == [200, 100, 50]).all()


def test_quantized_knn_recall_vs_exact(spark, sf_medium):
    """int8 quantization is lossy but must preserve nearly all true
    top-5 neighbors at 64 dims (error ~1/254 per component)."""
    from pipelines_spark.llm.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    qemb = quantize_embeddings(emb)
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in quantized_topk(qemb, qemb.filter(F.col("vec_id") < 10), k=5).collect()
    }
    assert len(quant) == len(exact)
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, recall
    # quantized values stay inside int8 range (same frame whose
    # recall was just asserted)
    row = qemb.select(
        F.array_max(F.transform("qvec", lambda x: F.abs(x))).alias("m")
    ).agg(F.max("m")).collect()[0][0]
    assert row <= 127


def test_jpeg_roundtrip_and_variants():
    """encode_jpeg → decode_jpeg across subsampling/quant/restart
    combinations: near-lossless at quant=1, bounded error at quant=8,
    and the restart-marker path bit-identical to the plain one."""
    import numpy as np

    from pipelines_spark.llm.jpeg import decode_jpeg, encode_jpeg

    h, w = 37, 53  # deliberately not multiples of 8/16 (crop path)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 2 + 30), (yy * 2 + 40), ((xx + yy) + 50)], axis=2
    ).clip(0, 255).astype(np.uint8)

    for sub in ("444", "420"):
        for quant, tol in ((1, 2), (8, 16)):
            for ri in (0, 3):
                dec = decode_jpeg(
                    encode_jpeg(img, quant=quant, subsampling=sub, restart_interval=ri)
                )
                assert dec.shape == (h, w, 3)
                err = np.abs(dec.astype(int) - img.astype(int))
                assert err.max() <= tol, (sub, quant, ri, err.max())

    # restart segments must decode to the same pixels as one segment
    a = decode_jpeg(encode_jpeg(img, quant=4, restart_interval=2))
    b = decode_jpeg(encode_jpeg(img, quant=4, restart_interval=0))
    assert np.array_equal(a, b)


def test_jpeg_progressive_roundtrip():
    """Progressive (SOF2) encode → decode is bit-identical to the
    sequential decode of the same image at the same quant settings —
    every Annex G path (spectral bands, successive approximation,
    EOB runs, buffered correction bits) on genuine bitstreams."""
    import numpy as np

    from pipelines_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(3)
    for shape, sub, quant in (
        ((24, 40, 3), "420", 8),   # MCU padding ≠ scan grid (Y)
        ((33, 17, 3), "420", 4),
        ((21, 13, 3), "444", 8),
        ((8, 8, 3), "444", 1),
    ):
        yy, xx = np.mgrid[0 : shape[0], 0 : shape[1]]
        base = (128 + 60 * np.sin(yy / 5) + 50 * np.cos(xx / 7))[:, :, None]
        img = np.clip(base + rng.integers(-40, 40, size=shape), 0, 255).astype(
            np.uint8
        )
        seq = decode_jpeg(encode_jpeg(img, quant=quant, subsampling=sub))
        prog = decode_jpeg(
            encode_jpeg_progressive(img, quant=quant, subsampling=sub)
        )
        assert np.array_equal(seq, prog), (shape, sub, quant)
    # flat image: the all-EOB-run path
    flat = np.full((48, 48, 3), 130, np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(flat)), decode_jpeg(encode_jpeg_progressive(flat))
    )
    # restart markers in every scan: DC predictors and EOB runs reset
    # per interval, still bit-identical to the sequential decode
    yy, xx = np.mgrid[0:24, 0:40]
    img = np.clip(
        (128 + 60 * np.sin(yy / 5) + 50 * np.cos(xx / 7))[:, :, None]
        + rng.integers(-40, 40, size=(24, 40, 3)),
        0, 255,
    ).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img, quant=8, subsampling="420")),
        decode_jpeg(
            encode_jpeg_progressive(
                img, quant=8, subsampling="420", restart_interval=2
            )
        ),
    )


def test_jpeg_rejects_unsupported_and_truncated():
    import numpy as np
    import pytest

    from pipelines_spark.llm.jpeg import decode_jpeg, encode_jpeg

    img = np.full((8, 8, 3), 99, dtype=np.uint8)
    enc = bytearray(encode_jpeg(img))
    i = bytes(enc).find(b"\xff\xc0")
    # SOF9 (arithmetic coding) must raise cleanly
    arith = bytes(enc[:i]) + b"\xff\xc9" + bytes(enc[i + 2:])
    with pytest.raises(ValueError, match="arithmetic"):
        decode_jpeg(arith)
    # a sequential stream RELABELED as SOF2 is malformed progressive
    # (Ss=0, Se=63 scan header) — rejected, not misparsed
    fake_prog = bytes(enc[:i]) + b"\xff\xc2" + bytes(enc[i + 2:])
    with pytest.raises(ValueError):
        decode_jpeg(fake_prog)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(enc[: len(enc) // 2]))  # truncated entropy
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")


def test_image_features_real_jpeg_decode(spark):
    """Baseline AND progressive JPEGs decode to true dimensions and
    channel stats through the kernel seam — and a variant the decoder
    rejects (arithmetic coding) falls back to the stub instead of
    failing the task."""
    import numpy as np

    from pipelines_spark.llm.jpeg import encode_jpeg, encode_jpeg_progressive
    from pipelines_spark.llm.multimodal import extract_image_features

    solid = np.zeros((10, 20, 3), dtype=np.uint8)
    solid[:, :, 0] = 200
    solid[:, :, 1] = 100
    solid[:, :, 2] = 50
    enc = encode_jpeg(solid, quant=1, subsampling="444")
    prog = encode_jpeg_progressive(solid, quant=1, subsampling="444")
    i = enc.find(b"\xff\xc0")
    arith = enc[:i] + b"\xff\xc9" + enc[i + 2:]
    df = spark.createDataFrame(
        [(1, bytearray(enc)), (2, bytearray(prog)), (3, bytearray(arith))],
        "item_id long, content binary",
    )
    rows = {r["item_id"]: r for r in extract_image_features(df).collect()}
    for item in (1, 2):  # sequential and progressive: REAL decode
        good = rows[item]
        assert (good["width"], good["height"]) == (20, 10), item
        r, g, b, gray_std = good["feature"]
        assert abs(r - 200 / 255) < 0.01
        assert abs(g - 100 / 255) < 0.01
        assert abs(b - 50 / 255) < 0.01
        assert gray_std < 0.01
    # arithmetic-coded payload: stub fallback, job never fails
    stub = rows[3]
    assert stub["width"] == 16 + (len(arith) % 64)


def test_audio_spectrogram_peak_frequency(spark):
    """STFT spectrogram on a pure sine: the dominant FFT bin must sit
    at the sine frequency (within one bin), band energies have the
    configured arity, and a non-WAV payload yields zero rows."""
    import numpy as np

    from pipelines_spark.llm.codecs import encode_wav
    from pipelines_spark.llm.multimodal import audio_spectrogram

    rate, freq = 8000, 1000
    t = np.arange(rate)  # 1 s
    sine = 0.5 * np.sin(2 * np.pi * freq * t / rate)
    rows = [(1, encode_wav(sine, rate)), (2, b"not audio at all")]
    df = spark.createDataFrame(rows, "item_id long, content binary")
    out = audio_spectrogram(df, frame_len=512, hop=256, n_bands=16).collect()

    assert {r["item_id"] for r in out} == {1}  # bad payload: no rows, no crash
    # 8000 samples, frame 512 hop 256 -> (8000-512)//256 + 1 = 30 frames
    assert len(out) == 30
    bin_hz = rate / 512
    for r in out:
        assert len(r["band_energy"]) == 16
        assert abs(r["peak_freq_hz"] - freq) <= bin_hz
    # frame timeline advances by hop/rate seconds
    first = sorted(out, key=lambda r: r["frame_no"])[:2]
    assert first[0]["start_ms"] == 0.0
    assert abs(first[1]["start_ms"] - 256 * 1000.0 / rate) < 1e-9


def test_audio_spectrogram_band_energy_location(spark):
    """Energy concentrates in the band containing the sine frequency:
    that band's log-power dominates every other band."""
    import numpy as np

    from pipelines_spark.llm.codecs import encode_wav
    from pipelines_spark.llm.multimodal import audio_spectrogram

    rate, freq = 8000, 2000  # bin 128 of 257 -> band 8 of 16
    sine = 0.9 * np.sin(2 * np.pi * freq * np.arange(rate) / rate)
    df = spark.createDataFrame([(7, encode_wav(sine, rate))], "item_id long, content binary")
    out = audio_spectrogram(df, frame_len=512, hop=256, n_bands=16).collect()
    assert out
    for r in out:
        bands = r["band_energy"]
        expect_band = int(r["peak_band"] // ((512 // 2 + 1) // 16))
        assert bands.index(max(bands)) == min(expect_band, 15)


def test_containment_finds_excerpt(spark):
    """A short doc quoted inside a much longer one has low symmetric
    Jaccard but containment 1.0 — exactly the pair this operator
    exists to catch."""
    from pipelines_spark.llm.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        ["doc_id", "text"],
    )
    pairs = containment_pairs(df, id_col="doc_id", text_col="text").collect()
    assert len(pairs) == 1
    row = pairs[0]
    assert row["contained_id"] == 1 and row["container_id"] == 2
    assert row["containment"] == 1.0
    # symmetric Jaccard misses it at any reasonable threshold
    jac = ngram_jaccard_pairs(
        df, id_col="doc_id", text_col="text", threshold=0.3
    ).collect()
    assert jac == []


def test_duplicate_spans_marks_shared_run(spark):
    from pipelines_spark.llm.text import duplicate_spans

    shared = " ".join(f"common{i}" for i in range(12))  # 12-word run
    df = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "unrelated words here " + shared + " trailing tail"),
            (3, "totally distinct text with no duplicate windows at all ok"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in duplicate_spans(df).collect()}
    # the 12 shared words are covered by one merged span in both docs
    assert rows[1]["n_dup_spans"] == 1 and rows[1]["dup_words"] == 12
    assert rows[2]["n_dup_spans"] == 1 and rows[2]["dup_words"] == 12
    assert rows[3]["n_dup_spans"] == 0 and rows[3]["dup_frac"] == 0.0


def test_ngram_entropy_scores_outlier_higher(spark):
    """Docs that look like the corpus get low cross-entropy; a doc of
    bigrams seen nowhere else scores strictly higher."""
    from pipelines_spark.llm.text import ngram_cross_entropy

    common = "the cat sat on the mat"
    df = spark.createDataFrame(
        [(i, common) for i in range(10)] + [(99, "zxqv wkjh pqrs mnbv")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["h_bits"] for r in ngram_cross_entropy(df).collect()}
    assert rows[99] > rows[0]
    assert all(rows[i] == rows[0] for i in range(10))


def test_mixture_rebalance_rates_and_determinism(spark):
    from pipelines_spark.llm.sampling import mixture_rates, mixture_rebalance

    rows = [(i, "heavy") for i in range(400)] + [(1000 + i, "light") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    rates = {
        r["source"]: r["rate_bp"]
        for r in mixture_rates(df, "source", {"heavy": 1, "light": 1}).collect()
    }
    # light (100 docs) is most constrained -> keeps all; heavy thins to match
    assert rates["light"] == 10000
    assert rates["heavy"] == 2500
    kept = mixture_rebalance(df, "doc_id", "source", {"heavy": 1, "light": 1})
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in kept.repartition(13).collect())
    assert a == b  # partitioning-independent acceptance
    n_heavy = sum(1 for i in a if i < 1000)
    assert abs(n_heavy - 100) < 40  # binomial around the 25% rate


def _synth_bmp(seed: int, flip_pixels: int = 0) -> bytes:
    """Deterministic 48x32 RGB noise image as BMP bytes; optionally
    perturb a few pixels (a near-duplicate edit)."""
    import numpy as np

    from pipelines_spark.llm.codecs import encode_image

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(32, 48, 3)).astype("uint8")
    if flip_pixels:
        px[:flip_pixels, 0, :] = 255 - px[:flip_pixels, 0, :]
    return encode_image(px, "bmp")


def test_image_dhash_near_dup_detection(spark):
    """dHash: a lightly-edited copy stays within Hamming 6 of the
    original; an unrelated image does not; garbage payloads hash NULL
    and never reach the pair join."""
    from pipelines_spark.llm.multimodal import dhash_near_dup_pairs, image_dhash

    rows = [
        (1, _synth_bmp(7)),
        (2, _synth_bmp(7, flip_pixels=2)),   # near-dup edit
        (3, _synth_bmp(99)),                  # unrelated
        (4, b"not an image at all"),          # undecodable
    ]
    df = spark.createDataFrame(rows, ["item_id", "content"])
    hashes = image_dhash(df)
    by_id = {r["item_id"]: r["dhash"] for r in hashes.collect()}
    assert by_id[4] is None
    assert by_id[1] is not None and by_id[3] is not None
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_near_dup_pairs(hashes, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_image_dhash_partitioning_independent(spark):
    from pipelines_spark.llm.multimodal import image_dhash

    rows = [(i, _synth_bmp(i)) for i in range(8)]
    df = spark.createDataFrame(rows, ["item_id", "content"])
    a = sorted(map(tuple, image_dhash(df.repartition(1)).collect()))
    b = sorted(map(tuple, image_dhash(df.repartition(5)).collect()))
    assert a == b


def test_dhash_hot_block_cap_drops_constant_images(spark):
    """A pile of identical constant-color thumbnails shares every
    block; the cap keeps them out of candidate generation instead of
    letting the join go quadratic."""
    import numpy as np

    from pipelines_spark.llm.codecs import encode_image
    from pipelines_spark.llm.multimodal import dhash_near_dup_pairs, image_dhash

    flat = encode_image(np.full((16, 16, 3), 128, dtype="uint8"), "bmp")
    rows = [(i, flat) for i in range(30)] + [(100, _synth_bmp(1)), (101, _synth_bmp(1, 2))]
    df = spark.createDataFrame(rows, ["item_id", "content"])
    hashes = image_dhash(df)
    pairs = dhash_near_dup_pairs(hashes, max_hamming=6, max_block_group=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (100, 101) in got            # real near-dup survives the cap
    assert not any(a < 30 and b < 30 for a, b in got)  # flat clique dropped


def test_bpe_apply_merge_greedy_leftmost(spark):
    """The fold must merge leftmost-first in self-pair runs (the
    property the oracle's islands rewrite replicates)."""
    from pipelines_spark.llm.bpe import apply_merge

    df = spark.createDataFrame([(["a", "a", "a"],), (["a", "b", "a", "b"],)], ["syms"])
    rows = df.select(apply_merge(F.col("syms"), "a", "a").alias("out")).collect()
    assert rows[0]["out"] == ["aa", "a"]
    assert rows[1]["out"] == ["a", "b", "a", "b"]
    rows = df.select(apply_merge(F.col("syms"), "a", "b").alias("out")).collect()
    assert rows[0]["out"] == ["a", "a", "a"]
    assert rows[1]["out"] == ["ab", "ab"]


def test_bpe_train_learns_expected_merges(spark):
    from pipelines_spark.llm.bpe import bpe_token_counts, bpe_train

    # 'low' x5, 'lower' x2: BPE learns l+o then lo+w first
    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower")], ["doc_id", "text"]
    )
    merges = bpe_train(docs, n_merges=2)
    assert [(m["left_sym"], m["right_sym"]) for m in merges] == [("l", "o"), ("lo", "w")]
    assert merges[0]["pair_count"] == 7 and merges[1]["pair_count"] == 7
    counts = {r["token"]: r["n"] for r in bpe_token_counts(docs, merges).collect()}
    assert counts["low"] == 7  # 'low' fully merged; 'lower' -> low+e+r
    assert counts["e"] == 2 and counts["r"] == 2


def test_bpe_train_partitioning_independent(spark):
    from pipelines_spark.llm.bpe import bpe_train

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat and the hat") for i in range(6)],
        ["doc_id", "text"],
    )
    a = bpe_train(docs.repartition(1), n_merges=4)
    b = bpe_train(docs.repartition(7), n_merges=4)
    assert a == b


def test_srp_multiprobe_recall_dominates_single_probe(spark, sf_medium):
    """Probing the two weakest-margin neighbor buckets must not lose
    recall vs the single-bucket path, and should typically gain it."""
    from pipelines_spark.llm.similarity import (
        brute_force_topk,
        srp_bucketed_topk,
        srp_multiprobe_topk,
    )

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 30)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, id_col="vec_id",
                                  vec_col="embedding", k=5).collect()
    }
    # 4 planes -> 16 buckets over 500 vectors: buckets actually group
    # neighbors (8 planes shatters this tiny corpus to ~2/bucket and
    # every bucketed method floors out)
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_bucketed_topk(emb, queries, id_col="vec_id",
                                   vec_col="embedding", k=5, n_planes=4).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_multiprobe_topk(emb, queries, id_col="vec_id",
                                     vec_col="embedding", k=5, n_planes=4,
                                     n_probes=3).collect()
    }
    r_single = len(single & truth) / len(truth)
    r_multi = len(multi & truth) / len(truth)
    assert r_multi >= r_single
    assert r_multi >= 0.3
    assert r_multi > 0.0


def test_pq_literal_value_codebook_bit_identical(spark, sf_medium):
    """r12: the literal-VALUE codebook (one constant-folded from_json
    literal + generic transform/aggregate argmin) must reproduce the
    literal-AST formulation bit-for-bit — same assignments, same ADC
    contribs — or the trained-PQ oracles would hash-mismatch. The AST
    helpers (_sql_argmin_cw/_sql_dot) stay as the reference
    implementation this test replays."""
    from pyspark.sql import functions as F

    from pipelines_spark.llm import similarity as S

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    n_sub, n_codes, dim = 8, 16, 64
    sub_len = dim // n_sub
    cb_rows = S._codebook_rows(S.pq_codebook(emb, n_sub=n_sub, n_codes=n_codes))
    by_sub = S._codebook_by_sub(cb_rows)

    # encode: value path (production) vs AST reference
    ast_assigns = F.expr(
        "array(" + ",".join(
            f"named_struct('sub',{s},"
            f"'cw',{S._sql_argmin_cw('_v', s * sub_len, sub_len, by_sub[s])})"
            for s in sorted(by_sub)
        ) + ")"
    )
    ref = (
        emb.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("_v"))
        .select("pid", F.explode(ast_assigns).alias("p"))
        .select("pid", "p.sub", "p.cw")
    )
    got = S.pq_encode(emb, cb_rows, n_sub=n_sub)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    # qtab: value path vs AST reference (exact DECIMAL contribs)
    qs = emb.filter(F.col("vec_id") < 5)
    ast_entries = F.expr(
        "array(" + ",".join(
            f"named_struct('sub',{int(sub)},'cw',{int(cw)},"
            f"'contrib',CAST(round({S._sql_dot('_qv', sub * sub_len, sub_len, cvec)},6) AS DECIMAL(18,6)))"
            for cw, sub, cvec in cb_rows
        ) + ")"
    )
    ref_q = (
        qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
        .select("query_id", F.explode(ast_entries).alias("p"))
        .select("query_id", "p.sub", "p.cw", "p.contrib")
    )
    got_q = S._pq_query_table(
        qs, cb_rows, id_col="vec_id", vec_col="embedding", sub_len=sub_len
    )
    assert sorted(map(tuple, got_q.collect())) == sorted(map(tuple, ref_q.collect()))


def test_pq_codes_shape_and_adc_recall(spark, sf_medium):
    """PQ: every vector gets exactly n_sub codes from a 16-codeword
    book (the 16x compression contract), and ADC ranking retrieves a
    nontrivial share of the true top-5."""
    from pipelines_spark.llm.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    cb = pq_codebook(emb)
    assert cb.count() == 16 * 4
    codes = pq_encode(emb, cb)
    per_vec = codes.groupBy("pid").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [4]
    cw_range = codes.agg(F.min("cw"), F.max("cw")).collect()[0]
    assert cw_range[0] >= 1 and cw_range[1] <= 16

    queries = emb.filter(F.col("vec_id") < 30)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, id_col="vec_id",
                                  vec_col="embedding", k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(emb, queries, id_col="vec_id",
                             vec_col="embedding", k=5).collect()
    }
    recall = len(approx & truth) / len(truth)
    assert recall > 0.15  # 4x16 codebook on random-ish vectors: coarse


def test_ivf_pq_candidates_are_cell_bounded(spark, sf_medium):
    """IVF-PQ must score strictly fewer candidates than whole-corpus
    ADC (the inverted index is doing its job) while still returning
    k results per query."""
    from pipelines_spark.llm.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_pq_topk(emb, queries, id_col="vec_id", vec_col="embedding",
                      k=5, nprobe=2).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert len(per_q) == 10
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_curate_corpus_optional_stat_gates(spark):
    """The LM-entropy gate drops the corpus outlier (threshold derived
    from the actual score distribution, not a magic number), the
    dup-span gate drops the duplicated-run docs, both record funnel
    stages, and no staging frames stay persisted."""
    from pipelines_spark.llm.curation import CurationConfig, curate_corpus
    from pipelines_spark.llm.text import ngram_cross_entropy

    # entropy scenario: similar sentences w/ unique words per doc (no
    # shared 8-word runs) + one gibberish outlier
    rows = [
        (i, f"the cat sat on the mat and looked at bird{i} near tree{i}")
        for i in range(10)
    ]
    rows.append((100, "zxqv wkjh pqrs mnbv qqqq wwww eeee rrrr tttt yyyy"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ent = {r["doc_id"]: r["h_bits"] for r in ngram_cross_entropy(docs).collect()}
    normal_max = max(v for k, v in ent.items() if k != 100)
    assert ent[100] > normal_max  # the outlier really is the max
    cut = (ent[100] + normal_max) / 2
    # near_dup_threshold raised so the deliberately-similar docs don't
    # collapse — this scenario isolates the entropy gate
    cfg = CurationConfig(
        min_quality=0.0, min_tokens=1, max_entropy_bits=cut,
        near_dup_threshold=0.95,
    )
    curated, stats = curate_corpus(docs, cfg)
    kept = {r["doc_id"] for r in curated.collect()}
    assert "lm_entropy_gate" in [r["stage"] for r in stats.collect()]
    assert 100 not in kept and len(kept) == 10

    # dup-span scenario: two docs sharing a 20-word run + clean docs
    dup_run = " ".join(f"boiler{i}" for i in range(20))
    rows2 = [
        (i, f"clean document number word{i} alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(5)
    ]
    rows2.append((200, dup_run + " unique middle words " + dup_run))
    rows2.append((201, "prefix words here " + dup_run + " and a suffix"))
    docs2 = spark.createDataFrame(rows2, ["doc_id", "text"])
    cfg2 = CurationConfig(min_quality=0.0, min_tokens=1, max_dup_frac=0.6)
    curated2, stats2 = curate_corpus(docs2, cfg2)
    kept2 = {r["doc_id"] for r in curated2.collect()}
    assert "dup_span_gate" in [r["stage"] for r in stats2.collect()]
    assert 200 not in kept2 and 201 not in kept2
    assert set(range(5)) <= kept2
    # cache hygiene: every gate staging frame was explicitly released;
    # the canonical frame under the output stays cached for the
    # caller, recorded on it, until release_staging (connected_
    # components' localCheckpoint blocks free on GC)
    from pyspark import StorageLevel

    from pipelines_spark.llm.dedup import release_staging

    for df_out in (curated, curated2):
        (canonical,) = df_out._staged_frames
        assert canonical.storageLevel != StorageLevel.NONE
        assert release_staging(df_out) == 1
        assert canonical.storageLevel == StorageLevel.NONE


def test_containment_posting_list_cap(spark, caplog):
    """Boilerplate shingles would make the containment index
    quadratic; the cap drops them (logged) while a genuine excerpt
    pair sharing rare shingles still scores containment 1.0."""
    import logging

    boiler = "shared legal disclaimer text appears on every single page here"
    rows = [(i, boiler) for i in range(200)]
    quote = "rare unique analysis of partition pruning strategies"
    filler = " ".join(f"pad{i}" for i in range(60))
    rows += [(1000, quote), (1001, filler + " " + quote + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pipelines_spark.llm.dedup import containment_pairs

    with caplog.at_level(logging.WARNING, logger="pipelines_spark.llm.dedup"):
        got = {
            (r["contained_id"], r["container_id"]): r["containment"]
            for r in containment_pairs(
                df, id_col="doc_id", text_col="text", threshold=0.8,
                max_shingle_freq=50,
            ).collect()
        }
    assert any("hot shingle" in m for m in caplog.messages), caplog.messages
    assert not any(a < 200 and b < 200 for (a, b) in got)
    assert got.get((1000, 1001)) == 1.0


def test_dhash_near_dup_clusters_across_codecs(spark):
    """VERDICT r6 item 6: cross-codec composition. The same picture
    encoded five ways — baseline JPEG, progressive JPEG, GIF, PNG,
    BMP — plus two genuinely different images lands in image_dhash →
    dhash_near_dup_pairs → connected_components as ONE five-codec
    component, with the unrelated images unpaired: the r5 decoders
    compose with the near-dup operator end-to-end, not just decode in
    isolation."""
    import numpy as np

    from pipelines_spark.llm.codecs import encode_bmp, encode_gif, encode_png
    from pipelines_spark.llm.dedup import connected_components
    from pipelines_spark.llm.jpeg import encode_jpeg, encode_jpeg_progressive
    from pipelines_spark.llm.multimodal import dhash_near_dup_pairs, image_dhash

    h, w = 32, 40
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    g = ((xx * 255) // (w - 1)).astype(np.uint8)
    g[yy > xx] = 255 - g[yy > xx]  # diagonal feature
    base = np.stack([g, g, g], axis=-1)  # grayscale-ish: GIF-safe palette
    checker = np.stack([(((xx // 4 + yy // 4) % 2) * 255).astype(np.uint8)] * 3, -1)
    vgrad = np.stack([((yy * 255) // (h - 1)).astype(np.uint8)] * 3, -1)

    payloads = [
        (1, encode_jpeg(base, quant=1, subsampling="444")),
        (2, encode_jpeg_progressive(base, quant=1, subsampling="444")),
        (3, encode_gif(base)),
        (4, encode_png(base)),
        (5, encode_bmp(base)),
        (6, encode_png(checker)),
        (7, encode_gif(vgrad)),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads], "item_id long, content binary"
    )
    pairs = dhash_near_dup_pairs(image_dhash(df), max_hamming=6)
    comps = {
        r["node"]: r["component_id"]
        for r in connected_components(pairs, a_col="id_a", b_col="id_b").collect()
    }
    assert {k for k in comps} == {1, 2, 3, 4, 5}  # unrelated never pair
    assert {comps[i] for i in (1, 2, 3, 4, 5)} == {1}  # one component


def test_linear_classifier_hof_equals_explode_formulation(spark, sf_medium):
    """The map-only HOF scorer (llm/text.py::linear_classifier_score,
    the no-shuffle 1000-executor shape) and the codegen explode +
    hash-aggregate formulation (used by curation's classifier gate
    and text_quality_linear) are the SAME function — per-doc scores
    identical on the real corpus."""
    from pipelines_spark.llm.sampling import hash_bucket
    from pipelines_spark.llm.text import linear_classifier_score

    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    hof = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", linear_classifier_score("text").alias("s")
        ).collect()
    }
    exploded = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
        )
        .select("doc_id", ((hash_bucket("w", buckets=64) % 21) - 10).alias("wt"))
        .groupBy("doc_id")
        .agg(F.sum("wt").alias("sw"), F.count(F.lit(1)).alias("nf"))
        .select(
            "doc_id",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.lit(0.2) + (F.col("sw") / F.lit(10.0)) / F.col("nf")))
                ),
                6,
            ).alias("s"),
        )
    )
    exp = {r["doc_id"]: r["s"] for r in exploded.collect()}
    assert hof == exp


def test_pca_power_iteration_invariants_vs_numpy(spark, sf_medium):
    """Independent-implementation pin for embed_pca_power_iteration
    (both engines share the unrolled formula, so oracle parity alone
    cannot catch a formula bug): against numpy's eigendecomposition
    of the same centered covariance, the Rayleigh estimate must be a
    positive LOWER bound on λ_max (the documented semantics of a
    fixed 8-round unroll), var_share must lower-bound the true top
    share, and the returned loading must be unit-norm."""
    import numpy as np

    from pipelines_spark.queries import QUERIES, register

    rows = QUERIES["embed_pca_power_iteration"](spark, sf_medium).collect()
    v = np.array(
        [r["loading"] for r in sorted(rows, key=lambda r: r["dim"])]
    )
    ray, share = rows[0]["eigenvalue"], rows[0]["var_share"]
    register(spark, sf_medium, ("embeddings",))
    X = np.array(
        [r["embedding"] for r in spark.table("embeddings").select("embedding").collect()],
        dtype=np.float64,
    )
    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc
    w = np.linalg.eigvalsh(C)
    lmax, trace = float(w[-1]), float(np.trace(C))
    assert 0 < ray <= lmax * (1 + 1e-6)
    assert 0 < share <= lmax / trace * (1 + 1e-6)
    assert ray / lmax > 0.9  # 8 rounds reach ~95% even on this flat spectrum
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-4


def test_mmr_select_matches_pure_python_greedy(spark, sf_medium):
    """Independent-implementation pin for embed_mmr_select: replay
    the greedy 0.7·rel − 0.3·max-sim selection in pure Python over
    the same rounded cosine inputs and require the identical 5 picks
    in the identical order."""
    from pipelines_spark.queries import QUERIES, register

    out = [
        (r["rank"], r["vec_id"], r["relevance"], r["redundancy"], r["mmr_score"])
        for r in QUERIES["embed_mmr_select"](spark, sf_medium).collect()
    ]
    register(spark, sf_medium, ("embeddings",))
    embs = {
        r["vec_id"]: r["embedding"]
        for r in spark.table("embeddings").collect()
    }

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = 0.0
        for x in a:
            na += float(x) * float(x)
        nb = 0.0
        for y in b:
            nb += float(y) * float(y)
        return round(dot / (na**0.5 * nb**0.5), 4)

    q = embs[0]
    scored = sorted(
        ((cos(embs[i], q), i) for i in embs if i != 0),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    cand = {i: rel for rel, i in scored}
    picks = []
    first = min(cand, key=lambda i: (-cand[i], i))
    picks.append((1, first, cand[first], 0.0, round(0.7 * cand[first], 6)))
    selected = {first}
    for rank in range(2, 6):
        best = None
        for i in cand:
            if i in selected:
                continue
            red = max(cos(embs[i], embs[j]) for j in selected)
            score = round(0.7 * cand[i] - 0.3 * red, 6)
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, red, score)
        _, i, red, score = best
        picks.append((rank, i, cand[i], red, score))
        selected.add(i)
    assert out == picks


def test_compiled_assign_paths_bit_identical(spark, sf_medium, monkeypatch):
    """r12 session 4: corpus cell assignment is scale-adaptive between
    the interpreted literal-VALUE greatest-fold and the compiled
    nested-greatest expression (similarity._sql_best_cell_compiled).
    The two formulations must be BIT-identical — force each via the
    size-threshold constant and compare the full ivf_topk output,
    floats included, row for row."""
    from pyspark.sql import functions as F

    from pipelines_spark.llm import similarity
    from pipelines_spark.llm.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    outs = {}
    for tag, thr in (("interp", 1 << 60), ("compiled", 0)):
        monkeypatch.setattr(similarity, "_COMPILED_ASSIGN_MIN_BYTES", thr)
        outs[tag] = sorted(
            (r["query_id"], r["neighbor_id"], repr(r["cosine"]), r["rank"])
            for r in ivf_topk(
                emb, queries, k=5, n_centroids=16, nprobe=2, dim=64
            ).collect()
        )
    assert outs["interp"] == outs["compiled"]
    assert len(outs["interp"]) == 50


def test_compiled_assign_threshold_is_size_adaptive(spark, sf_medium, monkeypatch):
    """The form selection derives from Catalyst's size estimate, not a
    constant: under the default threshold the sf0.01 corpus stays on
    the interpreted fold; forcing the threshold to 0 selects the
    compiled form; a huge threshold never does."""
    from pipelines_spark.llm import similarity
    from pipelines_spark.llm.similarity import _use_compiled_assign

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    assert _use_compiled_assign(emb) is False
    monkeypatch.setattr(similarity, "_COMPILED_ASSIGN_MIN_BYTES", 0)
    assert _use_compiled_assign(emb) is True
    monkeypatch.setattr(similarity, "_COMPILED_ASSIGN_MIN_BYTES", 1 << 60)
    assert _use_compiled_assign(emb) is False


def test_compiled_assign_guards(spark, sf_medium, monkeypatch):
    """r13 (ADVICE r12): the compiled form is refused outside its
    measured envelope — (a) k*dim above the cap would generate a
    multi-hundred-MB SQL string at web-scale cluster counts (driver
    OOM, not a slow plan); (b) a size estimate equal to
    spark.sql.defaultSizeInBytes means NO statistics, not a huge
    corpus, and must keep the conservative interpreted fold."""
    from pipelines_spark.llm import similarity
    from pipelines_spark.llm.similarity import _use_compiled_assign

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    monkeypatch.setattr(similarity, "_COMPILED_ASSIGN_MIN_BYTES", 0)
    # inside the envelope: k=16/dim=64 -> compiled
    assert _use_compiled_assign(emb, k=16, dim=64) is True
    # k*dim above the cap -> interpreted, regardless of corpus size
    assert _use_compiled_assign(emb, k=1000, dim=64) is False
    monkeypatch.setattr(similarity, "_COMPILED_ASSIGN_MAX_KDIM", 1000 * 64)
    assert _use_compiled_assign(emb, k=1000, dim=64) is True
    # a stats-free plan reports defaultSizeInBytes exactly: unknown,
    # never "huge" — localCheckpoint-derived inputs are the real case
    from pyspark.sql import functions as F

    rdd_backed = spark.createDataFrame(
        emb.limit(4).collect()
    ).localCheckpoint(eager=True)
    est = int(
        rdd_backed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    unknown = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
    if est == unknown:  # only assert the guard where the premise holds
        assert _use_compiled_assign(rdd_backed, k=16, dim=64) is False


def test_word_shingles_regex_matches_closure_form(spark):
    """r13: the one-regex-pass shingle enumeration is value-identical
    to the slice+concat_ws closure form it replaced, including the
    degenerate tokens split() produces (leading/trailing/multiple
    spaces -> empty tokens; tabs/newlines/emoji are token chars; NULL
    text stays NULL-ish i.e. filtered the same way)."""
    from pyspark.sql import functions as F

    from pipelines_spark.llm.dedup import word_shingles

    def closure_form(text, n):
        t = F.col(text) if isinstance(text, str) else text
        words = F.split(t, " ")
        return F.when(
            F.size(words) < n, F.array().cast("array<string>")
        ).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(words) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n)),
                )
            )
        )

    cases = [
        "a b c d e", "a b", "", " ", "  ", "a  b c", " a b c", "a b c ",
        "a b c  ", "  a  b  ", "a\tb c d", "a\nb c d e", "x x x x",
        "a b c a b c", "one", "α β γ δ", "   ", "word " * 50,
        "sp  ecial *chars* (?=x) [^ ]* \\ regex $1 a b",
        "trail space ", " lead space x", "\t\t a b c \t",
        "a \t b \n c \r d", "🙂 🚀 emoji test 🌟 a b", None,
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, text string"
    )
    for n in (2, 3, 4, 5):
        a = {r["i"]: r["o"] for r in df.select("i", closure_form("text", n).alias("o")).collect()}
        b = {r["i"]: r["o"] for r in df.select("i", word_shingles("text", n).alias("o")).collect()}
        assert a == b, (n, {i: (a[i], b[i]) for i in a if a[i] != b[i]})


def test_pq_encode_compiled_paths_bit_identical(spark, sf_medium, monkeypatch):
    """r13: the compiled nested-least PQ encode is plan selection, not
    semantics — forcing each form over the same codebook yields
    identical (pid, sub, cw) rows at the 4×16 config, and the 32×16
    config stays on the interpreted fold regardless of the byte
    threshold (the measured chain-count cap: 512 inline least-merges
    blow the 64 KB codegen wall)."""
    from pipelines_spark.llm import similarity
    from pipelines_spark.llm.similarity import (
        _codebook_rows,
        pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_medium}/embeddings.parquet")
    rows = _codebook_rows(
        pq_codebook(emb, id_col="vec_id", vec_col="embedding", dim=64,
                    n_sub=4, n_codes=16)
    )
    monkeypatch.setattr(similarity, "_COMPILED_ASSIGN_MIN_BYTES", 1 << 60)
    interp = sorted(
        map(tuple, pq_encode(emb, rows, id_col="vec_id", vec_col="embedding",
                             dim=64, n_sub=4).collect())
    )
    monkeypatch.setattr(similarity, "_COMPILED_ASSIGN_MIN_BYTES", 0)
    comp_df = pq_encode(emb, rows, id_col="vec_id", vec_col="embedding",
                        dim=64, n_sub=4)
    comp = sorted(map(tuple, comp_df.collect()))
    assert interp == comp
    # the compiled plan inlines the codeword literals (no from_json
    # codebook value) and stays map-only
    plan = comp_df._jdf.queryExecution().executedPlan().toString()
    assert "least(" in plan and "from_json" not in plan, plan[:2000]
    # 32×16 (512 chains) exceeds the chain cap: interpreted fold even
    # with the byte threshold forced to 0
    rows32 = _codebook_rows(
        pq_codebook(emb, id_col="vec_id", vec_col="embedding", dim=64,
                    n_sub=32, n_codes=16)
    )
    df32 = pq_encode(emb, rows32, id_col="vec_id", vec_col="embedding",
                     dim=64, n_sub=32)
    plan32 = df32._jdf.queryExecution().executedPlan().toString()
    assert "from_json" in plan32 or "aggregate(" in plan32, plan32[:2000]
    assert plan32.count("least(") <= 2, "32x16 must stay on the fold"


def test_bpe_wf_kwargs_mutually_exclusive(spark, sf_medium):
    """r13 (ADVICE r12): passing a precomputed vocabulary together
    with column kwargs is a caller bug, not a silent no-op."""
    import pytest as _pytest

    from pipelines_spark.llm.bpe import bpe_token_counts, bpe_train, word_frequencies

    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    wf = word_frequencies(docs)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        bpe_train(docs, wf=wf, id_col="other")
    with _pytest.raises(ValueError, match="mutually exclusive"):
        bpe_token_counts(docs, [], wf=wf, id_col="other")
