"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these operators is the 100 TB corpus):

- ``exact_dedup``: hash-groupBy on the text (or any column set). One
  shuffle on a 64-bit xxhash of the text, not the text itself, so
  shuffle volume is keys + ids, with full-text confirmation inside
  each tiny hash-group.
- ``minhash_near_dup_pairs``: shingle → 64 minhashes (one xxhash64
  per row, k derived universal-hash permutations — map-side partial
  min-agg) → band keys → candidate pairs within LSH buckets → exact
  Jaccard verification of candidates only. Never materializes the
  O(n²) pair space; shuffles are (doc, band-key) sized.
- ``simhash_pairs``: 32-bit md5-based SimHash; pairs within Hamming
  distance d found via the pigeonhole block join (split the hash into
  d+1 blocks; any pair at distance ≤ d shares ≥ 1 block) — a standard
  trick that replaces the cross join with an equi-join on block
  values. Exact except for capped degenerate hot block groups
  (logged, ``max_block_group``).
- ``ngram_jaccard_pairs``: exact Jaccard via the shingle inverted
  index: pairs sharing at least one shingle, intersection counted in
  one groupBy — exact but O(pairs-sharing-a-shingle); used as the
  verification path and as the oracle-matched exact variant.

All hash functions are computed with deterministic built-ins
(xxhash64 Spark-side for speed; md5 where cross-engine parity with
the SQL oracle is required).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame

from pipelines_spark.functions.exact import exact_div_round
from pyspark.sql import functions as F

_LOG = logging.getLogger("pipelines_spark.llm.dedup")

#: default posting-list cap for the capped dedup configurations:
#: shingles in more than this many documents are dropped before
#: pairing (max_shingle_freq). Defined ONCE here and imported by both
#: queries.py (Spark side) and oracles.py (DuckDB replay SQL) so the
#: two engines can never silently disagree on the cap.
DEDUP_CAP = 4

def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of a single-space-tokenized text.

    Texts with fewer than ``n`` words produce an empty array (guarded:
    Spark's ``sequence(1, 0)`` would count *down*, not empty).

    r13 (guide §4.1): the window enumeration is ONE compiled-regex
    pass — ``(?:^| )(?=(tok tok … tok))`` with ``tok = [^ ]*`` —
    instead of a per-position interpreted ``slice``+``concat_ws``
    closure (measured 3× on the corpus: a ~300-word document paid
    ~300 array allocations and fold evaluations). Value-equivalence
    with the closure form it replaces, including the degenerate
    tokens ``split`` produces:

    - the anchor ``(?:^|(?<= ))`` is a LOOKBEHIND, not a consumed
      space, so every match is zero-width and the scanner advances
      one char at a time, visiting every token boundary ``split(text,
      ' ')`` defines (a consuming `` `` anchor loses the window right
      after a zero-length ``^`` match on leading-space texts —
      caught by the adversarial pin);
    - ``[^ ]*`` (not ``+``) matches the EMPTY tokens a run of spaces
      or a trailing space produces, exactly like the slice over
      split's empty strings — "a  b" yields shingle "a  b" with the
      empty middle token in both forms;
    - the lookahead capture is the n tokens joined by single spaces —
      byte-for-byte ``concat_ws(' ', slice(words, i, n))`` (split
      tokens are never NULL, so concat_ws never skips);
    - matches arrive in position order and ``array_distinct`` keeps
      first occurrences, so the output array order is unchanged;
    - NULL text: both forms yield NULL (the when guard's size(NULL)
      is NULL, regexp_extract_all of NULL is NULL).

    Pinned exhaustively in tests (adversarial strings + corpus
    hash-identity at sf0.1 and a 10× replica)."""
    t = F.col(text) if isinstance(text, str) else text
    words = F.split(t, " ")
    pat = "(?:^|(?<= ))(?=(" + " ".join(["[^ ]*"] * n) + "))"
    return F.when(F.size(words) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.regexp_extract_all(t, F.lit(pat), F.lit(1)))
    )


def _shingled(
    df: DataFrame, id_col: str, text_col: str, shingle_words: int
) -> DataFrame:
    """Shared head of every shingle operator: drop texts too short to
    shingle, project the shingle set. The input keeps the caller's
    partitioning — a registered table arrives already widened by
    ``queries.register``, the one place a scan is split.

    The emptiness guard is the EQUIVALENT cheap predicate
    ``size(split(text, ' ')) >= n`` on the raw text, NOT
    ``size(shingles) > 0`` on the projected column (r13, guide §4.4's
    duplicated-evaluation disease in pure-SQL form): a filter that
    references the shingle expression gets pushed BELOW the scan's
    widen exchange, so the whole shingle computation ran a second time
    ON THE SERIAL SCAN TASK — measured 16 s serial vs 1.5 s parallel on
    a 10× corpus, dominating every cold dedup build. Equivalence:
    ``word_shingles`` returns ``[]`` exactly when ``size(words) < n``
    (the guard branch), and otherwise emits ≥ 1 window, so the two
    predicates accept identical rows (NULL text is dropped by
    both)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return df.filter(
        F.size(F.split(t, " ")) >= shingle_words
    ).select(
        F.col(id_col), word_shingles(text_col, shingle_words).alias("_shingles")
    )


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Canonical row per duplicate group: min ``id_col`` per exact
    content group, plus the group's size."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def _minhash_signatures(
    df: DataFrame, id_col: str, shingle_col: Column, num_hashes: int
) -> DataFrame:
    """doc → ``num_hashes`` minhash columns.

    One shuffle on ``id_col`` with map-side partial min aggregation;
    the hash computation itself is a flat codegen'd projection over
    the exploded shingle stream.
    """
    # Seeded xxhash64 gives an independent hash family (a linear
    # (a*h+b) scheme without modular wraparound is monotone in h —
    # every "permutation" would pick the same argmin shingle and LSH
    # degenerates). The string is hashed once; per-signature variants
    # re-hash the 64-bit value, which is far cheaper than re-hashing
    # the string k times. Flat projections + hash aggregate keep the
    # whole stage inside codegen — higher-order array lambdas are
    # interpreted per element and ~5× slower here.
    exploded = df.select(F.col(id_col), F.explode(shingle_col).alias("_sh")).select(
        F.col(id_col), F.xxhash64("_sh").alias("_h")
    )
    hashes = exploded.select(
        F.col(id_col),
        *[F.xxhash64(F.lit(i), F.col("_h")).alias(f"h{i}") for i in range(num_hashes)],
    )
    return hashes.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"mh_{i}") for i in range(num_hashes)]
    )


def band_key_cols(num_hashes: int, bands: int) -> list[Column]:
    """LSH band keys over minhash columns ``mh_0..mh_{n-1}``: the r
    minhashes of each band hash into one 64-bit key. Shared by the
    operator and by bucket-distribution diagnostics so the banding
    formula cannot drift between them."""
    rows_per_band = num_hashes // bands
    return [
        F.xxhash64(
            F.lit(b), *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]


def _attach_staging(out: DataFrame, frames) -> DataFrame:
    """Record the persisted staging frames that back ``out`` so the
    caller can release them with :func:`release_staging` once the
    output is materialized."""
    out._staged_frames = tuple(frames)
    return out


def release_staging(df: DataFrame) -> int:
    """Unpersist the staging frames an operator cached while building
    ``df`` (call AFTER materializing the output — an action before
    release reuses the cache, one after recomputes). Mirrors
    ``curate_corpus``'s explicit cache lifecycle for the standalone
    operators; a long-lived multi-corpus session must not rely on LRU
    eviction or session teardown. Returns the number of frames
    released. No-op on frames without staging."""
    frames = getattr(df, "_staged_frames", ())
    for f in frames:
        f.unpersist()
    if frames:
        del df._staged_frames
    return len(frames)


def minhash_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    log_hot_buckets: bool = True,
    persist_staging: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (Jaccard ≥ threshold) via MinHash-LSH
    candidate generation + exact verification.

    ``persist_staging=False`` skips caching the shingle/band staging
    tables entirely (and attaches nothing for ``release_staging`` to
    free) — for callers that cannot release the caches after
    materializing, trading one recompute of the shingle stage in the
    verification join for a guaranteed-leak-free plan.

    Output: (id_a, id_b, jaccard) with id_a < id_b. Because every
    candidate is exactly verified, precision is 1.0; recall is the
    LSH recall (8 bands × 4 rows: ≈1-1e-8 at s=0.9, still ≥0.98 at
    s=0.6; raise num_hashes/bands for corpora dense near the
    threshold).

    ``max_bucket_size`` caps LSH bucket membership: the within-bucket
    candidate join is quadratic in bucket size, and boilerplate-heavy
    corpora produce mega-buckets (every page sharing a template
    band). Buckets above the cap are dropped from candidate
    generation — with a logged count, never silently — the standard
    guard production LSH implementations apply. A pair living in a
    dropped bucket can still surface through its other bands (every
    doc gets ``bands`` chances), so recall degrades gracefully
    instead of the job going quadratic. ``None`` disables the cap.

    ``log_hot_buckets`` runs a bounded 1-row stats action at build
    time (an eager index-build step, like IVF's centroid collect) so
    the drop is WARN-logged, never silent — and doubles as a planner
    probe: when it finds NO hot buckets (the overwhelmingly common
    case), the anti-join filter is skipped entirely and the plan is
    identical to the uncapped one, so well-behaved corpora pay only
    the one probe job. Pass ``False`` for a fully lazy plan: no
    probe job, and the cap is then applied unconditionally as a lazy
    anti-join (safety without eagerness) — e.g. when composing plans
    you may not execute.
    """
    # The shingle sets feed three consumers (signatures + both sides
    # of the verification join); cache them once. At cluster scale
    # this is the classic LSH staging table — swap persist() for a
    # checkpoint/temp table when the corpus exceeds cluster memory.
    shingled = _shingled(df, id_col, text_col, shingle_words)
    if persist_staging:
        shingled = shingled.persist()
    sigs = _minhash_signatures(shingled, id_col, F.col("_shingles"), num_hashes)

    # Band keys (shared helper). Persisted — the band table feeds both
    # sides of the candidate self-join, and without caching each side
    # would recompute the full signature stage.
    band_cols = band_key_cols(num_hashes, bands)
    banded_cached = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("_band")
    )
    if persist_staging:
        banded_cached = banded_cached.persist()
    banded = banded_cached

    if max_bucket_size is not None:
        # hot-bucket guard: at most n_docs·bands/max_bucket_size
        # buckets can exceed the cap, so `hot` is tiny and broadcasts.
        # Not persisted: it derives from the persisted `banded`, so a
        # recompute is one small agg over cached data.
        hot = (
            banded.groupBy("_band")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket_size)
        )
        apply_filter = True
        if log_hot_buckets:
            # bounded 1-row action over the cached band table — both
            # the logging contract and a planner probe
            stats = hot.agg(
                F.count(F.lit(1)).alias("n_buckets"), F.sum("_bn").alias("n_members")
            ).collect()[0]
            if stats["n_buckets"]:
                _LOG.warning(
                    "minhash LSH: dropping %d hot buckets "
                    "(> %d members each, %d memberships total) from "
                    "candidate generation; pairs may still surface via "
                    "their other bands",
                    stats["n_buckets"], max_bucket_size, stats["n_members"],
                )
            else:
                apply_filter = False  # no hot buckets: uncapped plan
        if apply_filter:
            banded = banded.join(
                F.broadcast(hot.select("_band")), "_band", "left_anti"
            )

    cands = (
        banded.alias("l")
        .join(banded.alias("r"), F.col("l._band") == F.col("r._band"))
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    sets = shingled.select(F.col(id_col), F.col("_shingles"))
    verified = (
        cands.join(sets.withColumnsRenamed({id_col: "id_a", "_shingles": "_sa"}), "id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "_shingles": "_sb"}), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("_sa") + F.size("_sb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            # output rounding via the exact-rational discipline
            # (functions/exact.py): round(double, 4) of inter/union
            # ties at *.5e-4 boundaries across engines
            exact_div_round(
                F.col("_inter"),
                F.size("_sa") + F.size("_sb") - F.col("_inter"),
            ).alias("jaccard"),
        )
    )
    if not persist_staging:
        return verified
    return _attach_staging(verified, (shingled, banded_cached))


def _prefix_candidate_pairs(
    prefix: DataFrame,
    id_col: str,
    threshold: float,
    *,
    positional: bool = True,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from a prefix index with columns
    (id, _sh, _n, _rk): prefix-token equi-join + length filter +
    PPJoin POSITIONAL filter (Xiao et al. WWW'08 §4).

    Positional filter: a shared prefix token at ranks (i, j) bounds
    the overlap from above by 1 + min(|x|−i, |y|−j); Jaccard ≥ t
    needs overlap ≥ t·(|x|+|y|)/(1+t). LOSSLESS before the pair
    dedup: for any true pair, its FIRST shared token in the global
    df-order has every other common token ranked behind it in BOTH
    sets, so that encounter's bound ≥ the true overlap and the pair
    survives via at least one token row (and the standard pigeonhole
    argument puts that first shared token inside both prefixes). The
    1e-6 slack keeps exact-boundary rational equalities from being
    lost to float rounding — the integer bound then admits at most
    the boundary pair, never drops it. ``positional=False`` exists
    only so tests can pin the reduction."""
    cond = (
        (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        # length filter: Jaccard ≥ t ⇒ t·|x| ≤ |y| ≤ |x|/t
        & (F.col("l._n") * threshold <= F.col("r._n"))
        & (F.col("r._n") * threshold <= F.col("l._n"))
    )
    if positional:
        ubound = F.lit(1) + F.least(
            F.col("l._n") - F.col("l._rk"), F.col("r._n") - F.col("r._rk")
        )
        cond = cond & (
            ubound * (1.0 + threshold)
            >= threshold * (F.col("l._n") + F.col("r._n")) - 1e-6
        )
    return (
        prefix.alias("l")
        .join(prefix.alias("r"), "_sh")
        .filter(cond)
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (the PPJoin family,
    Xiao et al., WWW'08 / Chaudhuri et al., ICDE'06) — the third
    candidate-generation strategy in the dedup family, and the only
    LOSSLESS sub-quadratic one:

    - MinHash-LSH (minhash_near_dup_pairs): probabilistic recall,
      bounded candidates;
    - full inverted index (ngram_jaccard_pairs): exact, quadratic in
      every shingle's document frequency;
    - prefix filter (this): exact AND prunes by construction.

    The filter: order every document's shingle set by GLOBAL document
    frequency ascending (rarest first, ties by shingle string); for
    Jaccard ≥ t two sets must overlap in at least one of each other's
    first ⌊(1−t)·|x|⌋+1 shingles, so only that PREFIX is indexed.
    Hot boilerplate shingles — precisely the ones that blow up the
    full inverted index — sort to the BACK of every prefix and drop
    out of candidate generation entirely, with zero recall loss
    (the pigeonhole guarantee, not a heuristic cap). A length filter
    (t·|x| ≤ |y|) prunes size-incompatible pairs inside the join, and
    the PPJoin POSITIONAL filter (_prefix_candidate_pairs) prunes
    token encounters whose rank-derived overlap upper bound can't
    reach t — measured 310k → 125k candidates (−60%) at t=0.5/sf0.1,
    still provably lossless. Candidates are exactly verified, so
    output ≡ the exact operator.

    Plan shape: one document-frequency aggregate, one per-document
    window (bounded by document size) to rank shingles, a prefix-index
    self-join whose volume is quadratic only in RARE-shingle document
    frequency, and an array-intersect verification join. Same scale
    posture as LSH with recall 1.0 bought by the extra df-ranking
    pass.

    Output: (id_a, id_b, jaccard), id_a < id_b — same contract as
    ngram_jaccard_pairs; equality is asserted in tests/test_llm_ops.py.
    """
    from pyspark.sql import Window

    # persisted: the shingle table feeds the inverted index AND both
    # sides of the verification join; the prefix index feeds both
    # sides of the candidate self-join — same staging discipline as
    # minhash_near_dup_pairs (without it the shingle/df stages
    # recompute per consumer; measured 18.9 s → 6.2 s warm at sf0.1)
    shingled = _shingled(df, id_col, text_col, shingle_words).persist()
    sets = shingled.select(F.col(id_col), "_shingles", F.size("_shingles").alias("_n"))
    inv = shingled.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
    freq = inv.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))

    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("_sh").asc())
    prefix = (
        inv.join(freq, "_sh")
        .withColumn("_rk", F.row_number().over(w))
        .join(sets.select(id_col, "_n"), id_col)
        .filter(
            F.col("_rk")
            <= F.floor((1.0 - threshold) * F.col("_n")).cast("int") + 1
        )
        .select(id_col, "_sh", "_n", "_rk")
    ).persist()

    cands = _prefix_candidate_pairs(prefix, id_col, threshold)

    pair_sets = sets.select(F.col(id_col), "_shingles")
    out = (
        cands.join(
            pair_sets.withColumnsRenamed({id_col: "id_a", "_shingles": "_sa"}), "id_a"
        )
        .join(
            pair_sets.withColumnsRenamed({id_col: "id_b", "_shingles": "_sb"}), "id_b"
        )
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("_sa") + F.size("_sb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            exact_div_round(
                F.col("_inter"),
                F.size("_sa") + F.size("_sb") - F.col("_inter"),
            ).alias("jaccard"),
        )
    )
    return _attach_staging(out, (shingled, prefix))


def minhash_fingerprints(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The persistable MinHash band-signature store: one
    ``(id_col, band_no, band_key)`` row per document per band —
    ``bands`` rows per doc, regardless of document size. This is the
    fingerprint table an INCREMENTAL ingestion pipeline keeps between
    batches (advance it with :func:`persist_fingerprints`); probing
    it is one equi-join on ``(band_no, band_key)``
    (:func:`incremental_dedup_batch`), never a store×store pass.

    All banding parameters must match between store builds and batch
    probes — same contract as the corpus-wide operator, enforced by
    construction when both sides call this one function.

    At scale, persist the store BUCKETED on the probe-join keys
    (``write_bucketed_table(fps, name, ["band_no", "band_key"])``):
    the probe then shuffles only the batch side — the store's bucket
    layout satisfies the join's distribution, so the 100 TB store is
    never re-shuffled per ingestion batch (plan pinned in
    tests/test_bucketing.py).
    """
    shingled = _shingled(df, id_col, text_col, shingle_words)
    sigs = _minhash_signatures(shingled, id_col, F.col("_shingles"), num_hashes)
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*band_key_cols(num_hashes, bands))).alias(
            "band_no", "band_key"
        ),
    )


def persist_fingerprints(fps: DataFrame, path: str, batch_id: str) -> None:
    """Advance the fingerprint store idempotently: the batch's rows
    land in a ``_batch_id`` partition with per-partition replace, so
    re-running an ingestion batch (the reference's idempotent-load
    discipline, sinks/partitioned.py provenance) overwrites its own
    fingerprints instead of duplicating them."""
    from pipelines_spark.sinks.partitioned import write_batch

    write_batch(fps, path, batch_id)


def incremental_dedup_batch(
    batch: DataFrame,
    store_fps: DataFrame,
    store_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    persist_staging: bool = True,
    staging: str = "local",
) -> DataFrame:
    """Near-dup decisions for ONE new ingestion batch against an
    existing corpus — the production shape corpus-wide dedup can't
    give you: the corpus is never re-paired; the batch probes the
    persisted band-signature store with one ``(band_no, band_key)``
    equi-join (batch×store, never store×store), and candidates are
    exactly verified against only the candidate docs' texts: the
    distinct candidate-id set (union of both pair sides) is
    LEFT-SEMI-joined into ``store_docs`` BEFORE the shingle
    projection, so the store-text scan and the shingling are bounded
    by candidate volume, never corpus size. The candidate-id frame is
    tiny (≤ 2 × candidate pairs), so at scale that semi-join
    broadcasts and the 100 TB store is never shuffled — and if the
    corpus table is bucketed by id it is not even re-shuffled for
    reads (candidate-bounded scan pinned in tests/test_bucketing.py).

    Semantics — chosen so incremental ≡ one-shot EXACTLY (property
    test in tests/test_llm_ops.py): a batch doc is a duplicate iff it
    near-dups (Jaccard ≥ ``threshold``) any previously SEEN doc —
    any store doc, or any batch doc with a smaller id. The decision
    depends only on the pair set, never on other docs' keep/drop
    status, so it is order-free within the batch, embarrassingly
    parallel, and running batches B1;B2 incrementally equals running
    B1∪B2 in one shot (with ids increasing across batches). The
    store therefore advances with ALL seen fingerprints, kept or
    dropped — a dropped doc's fingerprint still blocks its future
    twins.

    Returns one row per batch doc: ``(id_col, is_dup, dup_of,
    n_dup_sources)`` with ``dup_of`` the smallest matching
    predecessor id (NULL when kept) — the provenance a curation audit
    needs.

    Reference spec: the anti-join incremental-sync registry
    (pipelines/utils_rj_cor via sources/ftp.py provenance) applies
    the same seen-before discipline to files; here it is applied to
    near-duplicate content.
    """
    # persisted: the batch's band table feeds BOTH sides of the
    # within-batch self-join AND the store probe — without staging the
    # 32-hash signature pipeline recomputes three times (measured 31.7 s
    # → 3.3 s warm at sf0.1 on the registered query)
    from pipelines_spark.plans.staging import stage as _stage

    def _maybe_stage(df: DataFrame) -> DataFrame:
        # persist_staging=False exposes the full lineage for plan
        # pins (tests) at the cost of recomputation — production
        # callers keep the default. ``staging`` picks the durability
        # mode (plans/staging.py): "local" (localCheckpoint — fastest,
        # but a lost executor loses the blocks unrecoverably) or
        # "checkpoint" (reliable checkpoint dir — the posture for
        # long-lived ingestion loops on preemption-prone clusters,
        # where out._batch_fps outlives this call).
        return _stage(df, eager=False, staging=staging) if persist_staging else df

    batch_fps = _maybe_stage(
        minhash_fingerprints(
            batch,
            id_col=id_col,
            text_col=text_col,
            shingle_words=shingle_words,
            num_hashes=num_hashes,
            bands=bands,
        )
    )
    # candidate pairs: batch → store (equi-join on the band key) ∪
    # batch → smaller-id batch doc (within-batch self-join)
    new_side = batch_fps.withColumnsRenamed({id_col: "_new_id"})
    # the _prev_id != _new_id guard makes micro-batch REPLAY safe: a
    # crash between the store write and the checkpoint commit means the
    # replayed batch's own fingerprints are already in the store, and
    # without the guard every doc would self-match at Jaccard 1.0
    cand_store = new_side.join(
        store_fps.withColumnsRenamed({id_col: "_prev_id"}),
        ["band_no", "band_key"],
    ).filter(F.col("_prev_id") != F.col("_new_id"))
    cand_batch = new_side.join(
        batch_fps.withColumnsRenamed({id_col: "_prev_id"}),
        ["band_no", "band_key"],
    ).filter(F.col("_prev_id") < F.col("_new_id"))
    # staged (lazy localCheckpoint, plans/staging.py): cands feeds
    # THREE consumers — the two candidate-id semi-joins and the
    # verification join — and is bounded by candidate volume (small).
    # A stage boundary (not a bare persist) keeps the downstream plan
    # linear: the three consumers see one RDD scan, not three inlined
    # copies of the band-probe subtree. GC-freed, nothing to release.
    from pipelines_spark.plans.staging import stage

    # Replay guard, part 2 (r12): after a crash between the store
    # write and the decision commit, the replayed batch's OWN
    # fingerprints are in the store — so the store probe can emit
    # (new, prev) pairs whose prev is a LARGER-id batchmate, which
    # the "previously seen = store doc or smaller-id batch doc"
    # semantics must not count (caught by the restart-resume test:
    # doc 260 flipped to dup_of 391). A prev that belongs to the
    # current batch only counts under the smaller-id rule, whichever
    # side it arrived from. One candidate-bounded equi-join against
    # the batch's id set — no store-sized work.
    batch_ids = batch.select(F.col(id_col).alias("_prev_id")).withColumn(
        "_in_batch", F.lit(True)
    )
    cands = stage(
        cand_store.select("_new_id", "_prev_id")
        .unionByName(cand_batch.select("_new_id", "_prev_id"))
        .dropDuplicates(["_new_id", "_prev_id"])
        .join(batch_ids, "_prev_id", "left")
        .filter(
            (F.col("_prev_id") < F.col("_new_id")) | F.col("_in_batch").isNull()
        )
        .drop("_in_batch"),
        eager=False,
        staging=staging,
    )

    # exact verification: the candidate-id set prunes BOTH text scans
    # BEFORE the shingle projection — the store corpus is read
    # candidate-bounded, never in full (the semi-join is applied per
    # union leg because Catalyst does not push joins through Union)
    # one reference to cands (map-side explode of the two pair sides),
    # not a self-union — keeps the plan tree linear in cands
    cand_ids = (
        cands.select(
            F.explode(F.array("_new_id", "_prev_id")).alias(id_col)
        ).dropDuplicates([id_col])
    )
    all_docs = (
        store_docs.select(id_col, text_col)
        .join(cand_ids, id_col, "left_semi")
        .unionByName(
            batch.select(id_col, text_col).join(cand_ids, id_col, "left_semi")
        )
    )
    # staged (lazy localCheckpoint): the shingle sets feed both sides
    # of the verification join; unlike persist(), the blocks free with
    # the frame — a long-lived ingestion loop calling this per batch
    # must not accrete CacheManager entries (release_staging stays a
    # harmless no-op on it)
    # NOT repartitioned: all_docs is already candidate-pruned by the
    # semi-joins above, and the structural pin
    # (test_bucketing.py: shingle Project DIRECTLY above LeftSemi)
    # guarantees the store corpus is never shingled in full — a
    # repartition between them would break the pin for no measured
    # gain (6.34 s → 6.63 s when tried; the operator's heavy side is
    # the fingerprint pipeline, which keeps its input's partitioning:
    # queries.register widens a registered scan, nothing else does).
    sets = _maybe_stage(
        all_docs.select(
            F.col(id_col), word_shingles(text_col, shingle_words).alias("_sh")
        )
    )
    verified = (
        cands.join(
            sets.withColumnsRenamed({id_col: "_new_id", "_sh": "_sn"}), "_new_id"
        )
        .join(
            sets.withColumnsRenamed({id_col: "_prev_id", "_sh": "_sp"}), "_prev_id"
        )
        .withColumn("_inter", F.size(F.array_intersect("_sn", "_sp")))
        .filter(
            F.col("_inter")
            / (F.size("_sn") + F.size("_sp") - F.col("_inter")).cast("double")
            >= threshold
        )
        .groupBy("_new_id")
        .agg(
            F.min("_prev_id").alias("dup_of"),
            F.count(F.lit(1)).alias("n_dup_sources"),
        )
    )
    out = (
        batch.select(F.col(id_col))
        .join(verified.withColumnsRenamed({"_new_id": id_col}), id_col, "left")
        .select(
            F.col(id_col),
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            F.coalesce("n_dup_sources", F.lit(0)).alias("n_dup_sources"),
        )
    )
    # batch_fps is exposed so the ingestion loop can advance the store
    # without recomputing the 32-hash signature pipeline
    # (streaming/dedup_stream.py reads it back via this attribute).
    # NOTHING is attached for release_staging: the staged frames are
    # lazy localCheckpoints whose blocks free with the frame (GC +
    # ContextCleaner); unpersisting a checkpointed frame would
    # truncate it unrecoverably for any later action, which is a
    # strictly worse contract than the persist-era "recompute after
    # release". Callers' release_staging(out) is a harmless no-op.
    out = _attach_staging(out, ())
    out._batch_fps = batch_fps
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via the shingle inverted index.

    Exact (no LSH): every pair sharing ≥1 shingle is scored. The
    groupBy on shingle then on (id_a, id_b) shuffles only
    pair-candidates, never the full cross product — but candidate
    volume is quadratic in each shingle's document frequency, so a
    boilerplate shingle in k docs alone yields k²/2 candidates.

    ``max_shingle_freq`` is the standard posting-list cap: shingles
    appearing in more than that many documents are dropped — they
    carry no discriminative signal, exactly like search-engine
    stop-postings — with a logged count, never silently. The score is
    then the EXACT Jaccard over the hot-removed shingle universe
    (both intersection AND per-doc sizes count surviving shingles
    only, so two docs agreeing on all their rare shingles still score
    1.0 no matter how much boilerplate they share). When the probe
    finds no hot shingles the plan is identical to the exact one.
    ``None`` (default, the oracle-parity configuration) keeps the
    fully exact behavior.
    """
    # persisted: the shingle table feeds every downstream consumer —
    # the per-doc sizes (both join legs) and both sides of the
    # inverted-index self-join. Without staging each consumer re-scans
    # the corpus and re-runs the shingle transform (the r12 before-plan
    # showed 4 scans and ~8 evaluations of the split/transform
    # expression); one staging table is the same LSH discipline
    # minhash_near_dup_pairs applies.
    shingled = _shingled(df, id_col, text_col, shingle_words).persist()
    staged: list[DataFrame] = [shingled]
    if max_shingle_freq is not None:
        inv = shingled.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
        hot = (
            inv.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_freq)
        )
        n_hot = hot.count()  # bounded: ≤ memberships/max_shingle_freq rows
        if n_hot:
            _LOG.warning(
                "ngram jaccard: dropping %d hot shingles (doc freq > %d) "
                "from the inverted index; pairs score exact Jaccard over "
                "the surviving shingle universe",
                n_hot, max_shingle_freq,
            )
            inv = inv.join(F.broadcast(hot.select("_sh")), "_sh", "left_anti")
            # sizes over SURVIVING shingles: the denominator must live
            # in the same universe as the intersection, or scores
            # deflate for boilerplate-heavy near-dups
            sizes = inv.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
            inter = (
                inv.alias("l")
                .join(inv.alias("r"), "_sh")
                .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
                .groupBy(
                    F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"),
                )
                .agg(F.count(F.lit(1)).alias("_inter"))
            )
            scored = (
                inter.join(
                    sizes.withColumnsRenamed({id_col: "id_a", "_n": "_na"}), "id_a"
                )
                .join(
                    sizes.withColumnsRenamed({id_col: "id_b", "_n": "_nb"}), "id_b"
                )
                .withColumn(
                    "jaccard",
                    F.col("_inter")
                    / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
                )
                .filter(F.col("jaccard") >= threshold)
                .select(
                    "id_a",
                    "id_b",
                    exact_div_round(
                        F.col("_inter"),
                        F.col("_na") + F.col("_nb") - F.col("_inter"),
                    ).alias("jaccard"),
                )
            )
            return _attach_staging(scored, staged)
        # no hot shingles: fall through to the exact plan below

    # exact path: carry each document's set size THROUGH the exploded
    # index (a few bytes per membership row — guide §2.3, shuffle keys
    # and metadata, not payloads) so the pair aggregation already holds
    # both denominators and the two sizes joins disappear. min() over a
    # per-id-constant column is exact, so scores are bit-identical to
    # the joined formulation.
    inv_n = shingled.select(
        F.col(id_col),
        F.explode("_shingles").alias("_sh"),
        F.size("_shingles").alias("_n"),
    )
    inter = (
        inv_n.alias("l")
        .join(inv_n.alias("r"), "_sh")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.min(F.col("l._n")).alias("_na"),
            F.min(F.col("r._n")).alias("_nb"),
        )
    )
    scored = (
        inter.withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            exact_div_round(
                F.col("_inter"),
                F.col("_na") + F.col("_nb") - F.col("_inter"),
            ).alias("jaccard"),
        )
    )
    return _attach_staging(scored, staged)


def minhash_band_audit(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Measured LSH-banding recall audit — the dedup-family analog of
    the ANN audit family (every approximation carries its own
    measured number): for EVERY true near-dup pair (exact shingle
    Jaccard ≥ ``threshold``, the inverted-index ground truth), how
    many of the ``bands`` LSH bands actually collide, and whether the
    pair would have been caught at all. Returns one row per true
    pair: ``(id_a, id_b, jaccard, n_bands_hit, caught)``.

    ``caught=false`` rows are true near-dups the banding scheme would
    MISS — the silent-recall number the dedup operators' correctness
    quietly relies on (their oracles verify the exact pair set, which
    only matches because measured recall is ~1.0 on this corpus's
    blatant dups: theory gives P(catch)=1−(1−s^r)^b ≈ 0.9998 at
    s=0.9 for r=4, b=8, but ≈ 0.40 at s=0.5 — a corpus with
    borderline dups would miss them, and this row is what shows it).
    The n_bands_hit distribution also pins the banding parameters: a
    (b, r) change shifts it immediately.

    Hash family: md5-derived minhashes (the repo's engine-replayable
    hash discipline), exchangeable with the production xxhash64
    family — the audit prices the BANDING SCHEME (b, r) on the actual
    corpus, not the hash function, and md5 lets the DuckDB oracle
    replay the signatures bit-for-bit. Threshold compare is exact
    integer arithmetic (inter·den ≥ union·num), never a float gate.

    Scale: the truth leg is the ngram_jaccard_pairs inverted-index
    shape (candidate volume quadratic in hot-shingle df — cap with
    the posting-list discipline on boilerplate corpora); the
    signature leg is one flat md5 projection (num_hashes per
    membership row) + one map-side-combined min agg; the collision
    leg joins band tables on (band_no, key) — the LSH shuffle shape
    itself. Nothing exceeds the operators being audited."""
    from fractions import Fraction

    from pipelines_spark.functions.exact import exact_div_round

    frac = Fraction(threshold).limit_denominator(10_000)
    rows_per_band = num_hashes // bands
    # persisted: the shingle table feeds the truth leg (both self-join
    # sides, sizes carried through the index) AND the signature leg —
    # without staging each consumer re-scans the corpus and re-runs the
    # shingle transform (same discipline as ngram_jaccard_pairs).
    shingled = _shingled(df, id_col, text_col, shingle_words).persist()
    inv = shingled.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
    inv_n = shingled.select(
        F.col(id_col),
        F.explode("_shingles").alias("_sh"),
        F.size("_shingles").alias("_n"),
    )
    inter = (
        inv_n.alias("l")
        .join(inv_n.alias("r"), "_sh")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.min(F.col("l._n")).alias("_na"),
            F.min(F.col("r._n")).alias("_nb"),
        )
    )
    union_ = F.col("_na") + F.col("_nb") - F.col("_inter")
    truth = (
        inter.filter(
            F.col("_inter") * F.lit(frac.denominator)
            >= union_ * F.lit(frac.numerator)
        )
        .select("id_a", "id_b", "_inter", union_.alias("_union"))
    )
    # md5 minhash family: hash_i(sh) = int(md5(i + "|" + sh)[:8], 16)
    hashed = inv.select(
        F.col(id_col),
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(i)), F.col("_sh"))), 1, 8
                ),
                16,
                10,
            )
            .cast("long")
            .alias(f"_h{i}")
            for i in range(num_hashes)
        ],
    )
    sigs = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"mh_{i}") for i in range(num_hashes)]
    )
    bandtab = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh_{b * rows_per_band + r}").cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        ).alias("bk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("p"),
    ).select(F.col(id_col), "p.band_no", "p.bk")
    cand = (
        bandtab.alias("l")
        .join(bandtab.alias("r"), ["band_no", "bk"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .agg(F.count_distinct(F.col("band_no")).alias("_nb_hit"))
    )
    out = (
        truth.join(cand, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            exact_div_round(F.col("_inter"), F.col("_union")).alias("jaccard"),
            F.coalesce(F.col("_nb_hit"), F.lit(0)).cast("long").alias(
                "n_bands_hit"
            ),
            F.col("_nb_hit").isNotNull().alias("caught"),
        )
        .orderBy("id_a", "id_b")
    )
    return _attach_staging(out, (shingled,))


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """One-sided Jaccard containment dedup: pairs where the smaller
    document's shingle set is mostly a subset of the larger one's
    (|A∩B| / min(|A|,|B|) ≥ threshold). Symmetric Jaccard misses
    these — a paragraph quoted inside a 100× longer page scores
    near-zero Jaccard but containment 1.0. This is the wire-story /
    quote / excerpt dedup rule (cf. Broder's containment from the
    original resemblance paper).

    Same inverted-index shape as ``ngram_jaccard_pairs``: explode →
    posting-list self-join on the shingle → pair-count aggregation —
    candidates are pairs sharing ≥1 shingle, never the cross product.
    ``max_shingle_freq`` is the same posting-list cap as
    ``ngram_jaccard_pairs`` (hot boilerplate shingles dropped with a
    logged count; containment then scores EXACTLY over the surviving
    shingle universe — numerator and denominators alike). Returns
    (contained_id, container_id, containment) with the smaller set
    (ties: smaller id) as contained."""
    # persisted: one staging table for every consumer (sizes legs +
    # both self-join sides) — same rationale as ngram_jaccard_pairs.
    shingled = _shingled(df, id_col, text_col, shingle_words).persist()
    staged: list[DataFrame] = [shingled]
    capped = False
    if max_shingle_freq is not None:
        inv = shingled.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
        hot = (
            inv.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_freq)
        )
        n_hot = hot.count()  # bounded: <= memberships/max_shingle_freq
        if n_hot:
            _LOG.warning(
                "containment: dropping %d hot shingles (doc freq > %d) "
                "from the inverted index; pairs score exact containment "
                "over the surviving shingle universe",
                n_hot, max_shingle_freq,
            )
            capped = True
            inv = inv.join(F.broadcast(hot.select("_sh")), "_sh", "left_anti")
            sizes = inv.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    if capped:
        inter = (
            inv.alias("l")
            .join(inv.alias("r"), "_sh")
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .groupBy(
                F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
        inter = inter.join(
            sizes.withColumnsRenamed({id_col: "id_a", "_n": "_na"}), "id_a"
        ).join(sizes.withColumnsRenamed({id_col: "id_b", "_n": "_nb"}), "id_b")
    else:
        # exact path: carry set sizes through the exploded index (the
        # ngram_jaccard_pairs metadata-carry trick) — no sizes joins
        inv_n = shingled.select(
            F.col(id_col),
            F.explode("_shingles").alias("_sh"),
            F.size("_shingles").alias("_n"),
        )
        inter = (
            inv_n.alias("l")
            .join(inv_n.alias("r"), "_sh")
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .groupBy(
                F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
            )
            .agg(
                F.count(F.lit(1)).alias("_inter"),
                F.min(F.col("l._n")).alias("_na"),
                F.min(F.col("r._n")).alias("_nb"),
            )
        )
    scored = (
        inter.withColumn(
            "containment",
            F.col("_inter") / F.least("_na", "_nb").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
    )
    smaller_is_a = (F.col("_na") < F.col("_nb")) | (
        (F.col("_na") == F.col("_nb")) & (F.col("id_a") < F.col("id_b"))
    )
    out = scored.select(
        F.when(smaller_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias(
            "contained_id"
        ),
        F.when(smaller_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias(
            "container_id"
        ),
        exact_div_round(
            F.col("_inter"), F.least("_na", "_nb")
        ).alias("containment"),
    )
    return _attach_staging(out, staged)


def _md5_hash32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative long — deterministic and
    reproducible in any engine with md5 (used for oracle parity)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def simhash32(text: Column | str) -> Column:
    """32-bit SimHash over word tokens (md5-derived token hashes).

    bit_j(simhash) = 1 iff sum over tokens of (+1 if bit_j(h(token))
    else -1) >= 0. Ties (sum == 0) resolve to 1 in every engine.
    """
    t = F.col(text) if isinstance(text, str) else text
    words = F.split(t, " ")
    hashes = F.transform(words, lambda w: _md5_hash32(w))
    bit_sums = [
        F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << j)) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        for j in range(32)
    ]
    out = F.lit(0).cast("long")
    for j, s in enumerate(bit_sums):
        out = out + F.when(s >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_block_group: int | None = 10_000,
    log_hot_groups: bool = True,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of 32-bit SimHash.

    Exact via pigeonhole block LSH: the hash splits into
    ``max_hamming + 1`` blocks; any pair at distance ≤ d must agree on
    at least one block, so candidates come from equi-joins on block
    values and are then exactly distance-checked.

    ``max_block_group`` guards the block join's hot spots (e.g. the
    all-zero hash every empty/degenerate doc shares): (block_no,
    block_val) groups larger than the cap are dropped from candidate
    generation with a logged count — pairs can still meet through
    their other ``max_hamming`` blocks, so recall degrades gracefully
    instead of the join going quadratic. ``None`` disables (the
    fully exact configuration; also the right choice when the corpus
    is known degenerate-free).

    Same contract as minhash's cap: with ``log_hot_groups`` the
    bounded probe action runs at build time over the cached block
    table and — finding nothing hot, the overwhelmingly common case —
    leaves the plan identical to the exact one. ``False`` gives a
    fully lazy plan with the cap applied unconditionally.
    """
    nblocks = max_hamming + 1
    width = 32 // nblocks
    sh = df.select(F.col(id_col), simhash32(text_col).alias("simhash"))
    blocks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_no"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1) if b < nblocks - 1 else F.lit((1 << (32 - b * width)) - 1))
                        .alias("block_val"),
                    )
                    for b in range(nblocks)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "simhash", "_b.block_no", "_b.block_val")
    # persisted: the block table feeds both sides of the candidate
    # self-join (and the hot-group probe) — without caching each
    # consumer would recompute the 32-aggregate simhash stage
    blocks_cached = blocks.persist()
    blocks = blocks_cached

    if max_block_group is not None:
        hot = (
            blocks.groupBy("block_no", "block_val")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_block_group)
        )
        apply_filter = True
        if log_hot_groups:
            n_hot = hot.count()  # bounded probe over the cached blocks
            if n_hot:
                _LOG.warning(
                    "simhash: dropping %d hot block groups (> %d members) "
                    "from candidate generation; pairs may still meet via "
                    "their other blocks",
                    n_hot, max_block_group,
                )
            else:
                apply_filter = False  # nothing hot: exact plan
        if apply_filter:
            blocks = blocks.join(
                F.broadcast(hot.select("block_no", "block_val")),
                ["block_no", "block_val"],
                "left_anti",
            )

    pairs = (
        blocks.alias("l")
        .join(
            blocks.alias("r"),
            (F.col("l.block_no") == F.col("r.block_no"))
            & (F.col("l.block_val") == F.col("r.block_val")),
        )
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("_ha"),
            F.col("r.simhash").alias("_hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _attach_staging(pairs, (blocks_cached,))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over a canonical edge list (``u`` > ``v``).

    For every node u with m = min(neighbors ∪ {u}), attach each
    strictly-larger neighbor directly to m. Output stays canonical.
    """
    nbr = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbr.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbr.join(m, "u")
        .filter(F.col("v") > F.col("u"))  # v > u >= m keeps (v, m) canonical
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over a canonical edge list (``u`` > ``v``).

    For every node u, m = min of its smaller neighbors; rewire those
    neighbors (and u itself) to m.
    """
    m = edges.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        edges.join(m, "u")
        .filter(F.col("v") != F.col("m"))  # v > m by minimality: canonical
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return rewired.union(m.select("u", F.col("m").alias("v"))).distinct()


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    staging: str = "local",
) -> DataFrame:
    """Connected components over a near-dup pair list:
    (node, component_id) where component_id = min node id reachable.

    Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14):
    each round flattens trees toward the component minimum, so the
    edge list converges to stars in O(log n) rounds even for
    adversarial long chains — unlike plain min-label propagation,
    whose round count is the graph *diameter*. Per-round shuffles are
    the (shrinking) edge list itself; lineage is truncated each round
    (the ``staging`` knob picks executor-local vs reliable
    checkpoints — plans/staging.py) so the plan does not grow with
    iterations.
    Convergence is detected by an order-independent checksum of the
    edge set (count + xor of per-edge hashes) — one tiny agg action
    per round, no exceptAll.

    Only nodes that appear in ``pairs`` are labeled (singletons carry
    no dedup information).
    """
    from pipelines_spark.plans.staging import stage

    edges = stage(
        pairs.select(
            F.greatest(a_col, b_col).alias("u"), F.least(a_col, b_col).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        eager=False,
        staging=staging,
    )

    def checksum(e: DataFrame) -> tuple:
        # this action also materializes e's LAZY localCheckpoint —
        # one pass per round instead of eager-checkpoint + checksum
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),  # no ANSI sum overflow
        ).collect()[0]
        return (row["n"], row["h"])

    prev = checksum(edges)
    # nodes derived from the CHECKPOINTED edge list (pair generation —
    # e.g. the whole MinHash-LSH pipeline — must not recompute for the
    # node set; pairs never contain self-loops, so the node sets match)
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    for _ in range(max_iter):
        edges = stage(_small_star(_large_star(edges)), eager=False, staging=staging)
        cur = checksum(edges)
        if cur == prev:  # stars: every non-root points at its component min
            break
        prev = cur
    return nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("root")), "node", "left"
    ).select("node", F.coalesce("root", "node").alias("component_id"))


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    dim: int = 64,
    round_digits: int = 4,
    staging: str = "local",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pruning (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with k-means, then
    compare pairs ONLY within a cluster — the clustering turns the
    O(n²) all-pairs problem into n²/k per cluster, the same
    bucket-then-verify shape as MinHash-LSH but in embedding space.

    Returns one row per PRUNED vector: ``(id, canonical_id,
    n_similar)`` where ``canonical_id`` is the lowest-id same-cluster
    neighbor with cosine ≥ ``threshold`` (keep-lowest-id is the same
    deterministic canonical rule as dedup_canonical_selection) and
    ``n_similar`` counts its above-threshold lower-id neighbors.
    Vectors with no lower-id near-neighbor survive.

    Determinism/oracle posture: the trained clustering is
    ``kmeans_train`` (hash-ordered init, exact integer means), and
    assignment uses the same rounded-cosine/lowest-cell rule, so a SQL
    oracle can replay the whole pipeline bit-for-bit.

    Scale: training is O(k·dim) driver state; assignment is a
    map-only JVM fold (r12 — no Python boundary); the pair join
    shuffles each vector ONCE on its cell id. At
    100 TB pick ``n_clusters`` so n/k vectors fit a task (the paper
    runs k in the tens of thousands for web-scale corpora) — cluster
    size bounds the per-task pair fan-out. ``staging="checkpoint"``
    makes the assignment staging survive executor loss
    (plans/staging.py).
    """
    from pipelines_spark.llm.similarity import kmeans_train

    cents = kmeans_train(
        corpus, id_col=id_col, vec_col=vec_col, k=n_clusters,
        iters=iters, dim=dim, assign_digits=round_digits,
    )

    # eager lineage cut: `assigned` feeds BOTH sides of the pair join,
    # and without it each side re-runs the corpus scan + assignment
    # (the same multiply-referenced-staging pattern as
    # triangle_count's `oriented`); the checkpointed blocks free on GC
    from pipelines_spark.plans.staging import stage

    from pipelines_spark.llm.similarity import (
        _cents_value_col,
        _norm_col,
        _pair_cosine,
        _sql_best_cell,
        _sql_best_cell_compiled,
        _use_compiled_assign,
    )

    # r12: cell assignment is a JVM greatest-fold over the literal-
    # VALUE trained centroids — the oracle's (rounded cosine DESC,
    # cell ASC) arithmetic verbatim — replacing the Arrow numpy-matmul
    # kernel (similarity._sql_cand_cos has the exactness argument).
    # Norms are hoisted into the staged assignment (computed once per
    # vector, materialized with the checkpoint) instead of re-derived
    # inside every in-cell pair — dot/(na*nb) is the same float
    # expression, so scores are bit-identical (similarity._pair_cosine)
    cent_pairs = [
        (i, [float(x) for x in cents[i]]) for i in range(n_clusters)
    ]
    # corpus-scale assignment: scale-adaptive between the compiled
    # nested-greatest form and the interpreted literal-VALUE fold
    # (bit-identical; similarity._sql_best_cell_compiled /
    # _use_compiled_assign have the arguments)
    pre = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _norm_col(vec_col, dim).alias("_vn"),
    )
    if _use_compiled_assign(corpus, k=len(cent_pairs), dim=dim):
        assign_sel = pre.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(
                _sql_best_cell_compiled(
                    vec_col, "_vn", cent_pairs, round_digits, dim=dim,
                )
            ).alias("_cell"),
            F.col("_vn"),
        )
    else:
        assign_sel = pre.withColumn(
            "_cents", _cents_value_col(cent_pairs)
        ).select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(
                _sql_best_cell(
                    vec_col, "_cents", round_digits,
                    k=len(cent_pairs), dim=dim, nq_sql="_vn",
                )
            ).alias("_cell"),
            F.col("_vn"),
        )
    assigned = stage(assign_sel, staging=staging)
    a = assigned.select(
        F.col("_cell"), F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"),
        F.col("_vn").alias("_na"),
    )
    b = assigned.select(
        F.col("_cell"), F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"),
        F.col("_vn").alias("_nb"),
    )
    pairs = (
        a.join(b, "_cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn(
            "_cos",
            F.round(
                _pair_cosine("_va", "_vb", "_na", "_nb", dim),
                round_digits,
            ),
        )
        .filter(F.col("_cos") >= threshold)
    )
    return pairs.groupBy(F.col("_idb").alias(id_col)).agg(
        F.min("_ida").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_similar"),
    )


def lsh_tune(
    threshold: float,
    *,
    num_hashes: int = 128,
    false_negative_weight: float = 1.0,
    false_positive_weight: float = 1.0,
) -> dict:
    """Choose (bands, rows) for MinHash-LSH targeting a Jaccard
    ``threshold``: the collision probability of a pair with similarity
    s is the S-curve ``1 - (1 - s^rows)^bands``; the tuner scans every
    factorization of ``num_hashes`` and minimizes the weighted sum of
    the false-negative mass above the threshold and false-positive
    mass below it (rectangle-rule integral, the standard MMDS
    procedure). Returns the chosen parameters, the curve's estimated
    threshold ``(1/bands)^(1/rows)``, and both error masses — feed
    ``bands`` straight into ``minhash_near_dup_pairs``.

    Weights bias the choice: a dedup pass that must not lose real
    duplicates raises ``false_negative_weight``; a candidate-volume-
    constrained pass raises ``false_positive_weight``. Exact
    verification downstream removes false positives anyway, so their
    real cost is compute, not correctness.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    steps = 1000
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        fn = fp = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p_collide = 1.0 - (1.0 - s ** rows) ** bands
            if s >= threshold:
                fn += (1.0 - p_collide) / steps
            else:
                fp += p_collide / steps
        cost = false_negative_weight * fn + false_positive_weight * fp
        if best is None or cost < best["cost"]:
            best = {
                "bands": bands,
                "rows_per_band": rows,
                "cost": cost,
                "false_negative_mass": fn,
                "false_positive_mass": fp,
                "estimated_threshold": (1.0 / bands) ** (1.0 / rows),
            }
    return best


def lsh_collision_probability(similarity: float, bands: int, rows_per_band: int) -> float:
    """P[candidate pair] for a pair with Jaccard ``similarity`` under
    (bands, rows) banding — the S-curve the tuner optimizes."""
    return 1.0 - (1.0 - similarity ** rows_per_band) ** bands
