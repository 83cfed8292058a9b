"""Embedding similarity search over an ``array<float>`` column.

- ``brute_force_topk``: exact top-k cosine neighbors for a (small)
  query set. The query set broadcasts; the corpus streams through a
  map-only stage computing dot products with higher-order array
  functions (zip_with + aggregate, JVM codegen — no Python), then one
  window top-k shuffled on query id. At 100 TB the corpus side never
  shuffles.
- ``srp_bucketed_topk``: signed-random-projection-style bucketed ANN.
  Bucket key = sign bits of ``n_planes`` fixed projections; search
  only within matching buckets. With deterministic hyperplanes the
  approximation itself is reproducible (and therefore oracle-
  checkable). The bucket join replaces the full cross product with an
  equi-join — the scale path.
- ``ivf_topk``: inverted-file ANN. A fixed-size (O(n_centroids·dim),
  independent of corpus size) deterministic centroid set is collected
  to the driver (index-build phase — IVF centroid tables
  are always driver-scale); every corpus vector is assigned to its
  nearest centroid in a *map-only* JVM fold over the constant-folded
  centroid literal (no shuffle, no cross-join blow-up, no Python
  boundary — r12); queries probe their ``nprobe`` nearest centroid
  cells and run exact cosine top-k against only those cells' members.
  At 100 TB the corpus is partitioned by centroid id once and probed
  by equi-join forever.
- ``knn_graph``: the graph-construction twin of ``ivf_topk`` — the
  whole corpus's top-k edge list via one co-partitioned self-join on
  the cell id (both sides corpus-scale, so nothing broadcasts);
  per-cell pair volume is n²/C, optionally capped per cell.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipelines_spark.functions.exact import exact_div_round


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _ref(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sql_name(c: str) -> str:
    """Backtick-quoted column reference for the SQL-string builders."""
    return f"`{c}`"


def _sql_elem(name: str, j: int) -> str:
    return f"CAST(element_at({_sql_name(name)},{j}) AS DOUBLE)"


def _sql_dot_chain(a: str, b: str, dim: int) -> str:
    """The unrolled dot chain as ONE SQL string: identical expression
    tree (same element_at/cast/multiply/add sequence from ``0.0D``) to
    the Column-built chain, but constructed by the JVM parser in one
    call instead of ~4·dim py4j round-trips. Measured (r13): building
    a 64-term chain through the Python Column API costs ~0.45 s of
    pure driver time PER CHAIN PER QUERY BUILD; the string form is
    ~0.06 s — the difference is the whole sf0.1 regression of the
    brute-force/SRP ANN family. Values are bit-identical: the parser
    yields the same functions, the same literal types, and the same
    left-to-right float summation order."""
    return "0.0D" + "".join(
        f"+{_sql_elem(a, j)}*{_sql_elem(b, j)}" for j in range(1, dim + 1)
    )


def _sql_norm_chain(a: str, dim: int) -> str:
    """Unrolled L2 norm as one SQL string (see ``_sql_dot_chain``)."""
    terms = "".join(
        f"+{_sql_elem(a, j)}*{_sql_elem(a, j)}" for j in range(1, dim + 1)
    )
    return f"sqrt(0.0D{terms})"


def _dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Dot product in double. With ``dim`` given, an explicit unrolled
    left-to-right addition chain — whole-stage-codegen'd, where the
    higher-order ``aggregate``/``zip_with`` fold is interpreted per
    element (the measured ~5× gap the minhash docstring records). The
    chain starts from ``lit(0.0)`` exactly like the fold's zero
    accumulator, so the float summation order — and therefore every
    bit of the result — is identical between the two forms.

    With ``dim`` given AND both sides named by string, the chain is
    built as one parsed SQL string (``_sql_dot_chain``) — same tree,
    none of the per-term py4j construction cost."""
    if dim is None:
        return F.aggregate(
            F.zip_with(_ref(a), _ref(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_sql_dot_chain(a, b, dim))
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i).cast("double") * F.element_at(b, i).cast(
            "double"
        )
    return acc


def _norm(a: Column | str, dim: int | None = None) -> Column:
    """L2 norm in double; same unrolled-chain contract as ``_dot``."""
    if dim is None:
        return F.sqrt(F.aggregate(_ref(a), F.lit(0.0), lambda acc, x: acc + x * x))
    if isinstance(a, str):
        return F.expr(_sql_norm_chain(a, dim))
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        x = F.element_at(a, i).cast("double")
        acc = acc + x * x
    return F.sqrt(acc)


def cosine_similarity(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Cosine similarity of two numeric arrays, computed in double.

    ``dim`` (when statically known — every registered corpus is
    64-dim) selects the unrolled codegen form of the dot/norm chains:
    bit-identical values, ~5× less per-pair work than the interpreted
    higher-order fold. ``None`` keeps the dimension-generic fold.
    String-named sides build the chains as one parsed SQL expression
    (see ``_sql_dot_chain`` — the py4j construction cost, not the
    executed plan, is what changes)."""
    if dim is None:
        ad, bd = _as_double(_ref(a)), _as_double(_ref(b))
        return _dot(ad, bd) / (_norm(ad) * _norm(bd))
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"({_sql_dot_chain(a, b, dim)})"
            f"/({_sql_norm_chain(a, dim)}*{_sql_norm_chain(b, dim)})"
        )
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def _norm_col(vec: Column | str, dim: int | None) -> Column:
    """Per-row L2 norm for hoisting OUT of pair joins: computing each
    side's norm once per vector (instead of once per candidate pair)
    divides the per-pair cosine work by ~3 with bit-identical values —
    ``dot/(norm_a*norm_b)`` is the same float expression either way."""
    if dim is None:
        return _norm(_as_double(_ref(vec)), None)
    return _norm(vec, dim)


def _pair_cosine(
    cv: Column | str,
    qv: Column | str,
    cn: Column | str,
    qn: Column | str,
    dim: int | None,
) -> Column:
    """``dot(cv,qv)/(cn*qn)`` with the dot in unrolled-codegen form
    when ``dim`` is known — the hoisted-norms companion of
    :func:`cosine_similarity` (same multiply order, same bits). With
    every side named by string the whole quotient is one parsed SQL
    expression (``_sql_dot_chain`` — kills the py4j build constant)."""
    if dim is not None and all(isinstance(c, str) for c in (cv, qv, cn, qn)):
        return F.expr(
            f"({_sql_dot_chain(cv, qv, dim)})"
            f"/({_sql_name(cn)}*{_sql_name(qn)})"
        )
    if dim is None:
        dot = _dot(_as_double(_ref(cv)), _as_double(_ref(qv)))
    else:
        dot = _dot(cv, qv, dim)
    return dot / (_ref(cn) * _ref(qn))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared tail of every scored-pairs search: rank per query by
    (cosine desc, neighbor asc) and keep k — WindowGroupLimit pushes
    the limit into the shuffle, so full per-query sorts never
    materialize."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Self-matches excluded. Similarity is rounded before ranking so
    ranks are reproducible across engines; ties break on neighbor id.

    With ``dim`` statically known (the registered corpora are 64-dim)
    the per-vector norms are computed ONCE per row before the join —
    not once per candidate pair — and the per-pair dot is the unrolled
    codegen chain (bit-identical to the fold; see ``_dot``). The
    per-pair cost drops from dot+2 norms interpreted to one codegen
    dot."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm_col(vec_col, dim).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm_col(vec_col, dim).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _pair_cosine("_cv", "_qv", "_cn", "_qn", dim),
                round_digits,
            ),
        )
    )
    return _rank_topk(scored, k)


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round-half-up
    (v_i / scale) with scale = max|v| / 127 (scale 1 for the all-zero
    vector). Returns (id, qvec array<bigint> in [-127, 127],
    scale double).

    This is the ANN memory-scale path: a 64-dim float32 embedding
    column shrinks 4× (8× vs float64), which at 100 TB decides
    whether the hot corpus fits the page cache. Cosine over the
    quantized vectors needs NO dequantization — per-vector scales
    cancel — and the integer dot products are exact, so quantized
    search is bit-reproducible across engines and partitionings
    (unlike float dot products, which depend on summation order).
    Map-only: zero shuffle. The scale materializes as a column in a
    first projection so the per-element lambda references it instead
    of re-evaluating the array_max per element (higher-order lambdas
    are interpreted — no codegen CSE inside them), and the squared
    norm is precomputed once per vector for the search stage.
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        F.when(maxabs == 0.0, F.lit(1.0))
        .otherwise(maxabs / F.lit(127.0))
        .alias("scale"),
    )
    qvec = F.transform(
        F.col("_v"),
        lambda x: (
            F.signum(x.cast("double"))
            * F.floor(F.abs(x.cast("double")) / F.col("scale") + F.lit(0.5))
        ).cast("long"),
    )
    return staged.select(F.col(id_col), qvec.alias("qvec"), "scale").withColumn(
        "qnorm2",
        F.aggregate(
            F.transform("qvec", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def quantized_topk(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    *,
    id_col: str = "vec_id",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors (from
    ``quantize_embeddings``): (query_id, neighbor_id, cosine, rank).

    The dot product and squared norms are EXACT integer sums
    (64-dim × 127² ≪ int64), so the only float ops are two sqrts and
    one division — engine- and order-independent. Norms come
    precomputed per vector (``qnorm2`` from ``quantize_embeddings``),
    so the O(n·q) scoring stage does ONE O(dim) aggregate per pair,
    not three. Same broadcast + WindowGroupLimit plan shape as
    ``brute_force_topk``.
    """
    q = queries_q.select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("_qq"),
        F.col("qnorm2").alias("_qn2"),
    )
    c = corpus_q.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("_qc"),
        F.col("qnorm2").alias("_cn2"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                F.aggregate(
                    F.zip_with(F.col("_qc"), F.col("_qq"), lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).cast("double")
                / (
                    F.sqrt(F.col("_cn2").cast("double"))
                    * F.sqrt(F.col("_qn2").cast("double"))
                ),
                round_digits,
            ),
        )
    )
    return _rank_topk(scored, k)


def _sql_srp_proj(name: str, dim: int, n_planes: int, i: int) -> str:
    """Plane ``i``'s projection as a SQL string: the identical
    left-to-right ±1 alternating-sign sum the Column builder made
    (multiplying by ``-1.0D`` parses as a folded exact literal —
    same float product, same summation order)."""
    parts = []
    for m, j in enumerate(range(i, dim, n_planes)):
        sign = "1.0D" if m % 2 == 0 else "-1.0D"
        parts.append(f"{_sql_elem(name, j + 1)}*{sign}")
    return "+".join(parts)


def srp_bucket_key(vec: Column | str, dim: int, n_planes: int = 8) -> Column:
    """Deterministic sign-projection bucket: bit i = sign of a fixed
    sparse ±1 projection over coordinates ≡ i (mod n_planes).

    The "hyperplanes" are fixed alternating-sign patterns —
    deterministic, no RNG — which keeps the ANN result reproducible
    (and oracle-checkable) while still splitting the space into
    2^n_planes buckets. Built as an explicit left-to-right addition
    chain so the float summation order is engine-independent. A
    string-named ``vec`` builds the whole key as one parsed SQL
    expression (same tree; see ``_sql_dot_chain`` for the measured
    py4j construction cost this avoids)."""
    if isinstance(vec, str):
        bits = "+".join(
            f"(CASE WHEN ({_sql_srp_proj(vec, dim, n_planes, i)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )
        return F.expr(f"0+{bits}")
    key: Column = F.lit(0)
    for i in range(n_planes):
        proj: Column | None = None
        for m, j in enumerate(range(i, dim, n_planes)):
            term = F.element_at(vec, j + 1).cast("double") * F.lit(
                1.0 if m % 2 == 0 else -1.0
            )
            proj = term if proj is None else proj + term
        key = key + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return key


def with_srp_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 8,
    out_col: str = "srp_bucket",
) -> DataFrame:
    """Attach the SRP bucket key as a persistable column.

    The 100 TB pattern: compute the key ONCE at ingest/write time and
    store it in the lake table (ideally as a partition or bucket
    column), so every ANN probe is an equi-join — or a pruned scan —
    on a stored column instead of re-deriving a dim×n_planes
    expression over the whole corpus per query. Pass the column name
    to ``srp_bucketed_topk(corpus_bucket_col=...)``.
    """
    dim = dim or 64
    return df.withColumn(out_col, srp_bucket_key(vec_col, dim, n_planes))


def srp_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    round_digits: int = 4,
    corpus_bucket_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's SRP bucket.

    Returns the same schema as ``brute_force_topk``; recall depends on
    bucket granularity (here deterministic, so the approximation is a
    *defined* result, not a random one).

    ``corpus_bucket_col`` names a PRECOMPUTED bucket-key column on the
    corpus (see ``with_srp_bucket``): the corpus side then joins on
    the stored column — no per-query key recomputation over the big
    side; only the (broadcast-small) query side derives its keys.
    """
    dim = dim or 64
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        srp_bucket_key(vec_col, dim, n_planes).alias("_bucket"),
        _norm_col(vec_col, dim).alias("_qn"),
    )
    corpus_key = (
        F.col(corpus_bucket_col)
        if corpus_bucket_col is not None
        else srp_bucket_key(vec_col, dim, n_planes)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        corpus_key.alias("_bucket"),
        _norm_col(vec_col, dim).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _pair_cosine("_cv", "_qv", "_cn", "_qn", dim),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _srp_projections(vec: Column | str, dim: int, n_planes: int) -> list[Column]:
    """The raw per-plane projection values behind ``srp_bucket_key``
    (same terms, same left-to-right addition order; string-named
    ``vec`` parses each plane's chain in one call)."""
    if isinstance(vec, str):
        return [
            F.expr(_sql_srp_proj(vec, dim, n_planes, i)) for i in range(n_planes)
        ]
    projs: list[Column] = []
    for i in range(n_planes):
        proj: Column | None = None
        for m, j in enumerate(range(i, dim, n_planes)):
            term = F.element_at(vec, j + 1).cast("double") * F.lit(
                1.0 if m % 2 == 0 else -1.0
            )
            proj = term if proj is None else proj + term
        projs.append(proj)
    return projs


def srp_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 3,
    dim: int | None = None,
    round_digits: int = 4,
    corpus_bucket_col: str | None = None,
) -> DataFrame:
    """Multi-probe SRP ANN (Lv et al., VLDB 2007): each query probes
    its own bucket PLUS the buckets reached by flipping its
    ``n_probes − 1`` weakest-margin sign bits — the planes where the
    projection landed nearest zero, i.e. where a true neighbor most
    plausibly fell on the other side. Recall rises toward brute force
    without growing the index: the corpus still stores ONE bucket key
    per vector (``with_srp_bucket``), only the (broadcast-small) query
    side fans out, so the join stays a bucket equi-join with
    n_probes× the probe rows. A corpus vector lives in exactly one
    bucket, so (query, neighbor) pairs are unique — no dedup stage.
    Deterministic: margins are the same fixed-order sums as the key,
    ties break toward the lower plane index."""
    dim = dim or 64
    projs = _srp_projections(vec_col, dim, n_planes)
    cand = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(p).alias("absp"), F.lit(i).alias("bit"))
                for i, p in enumerate(projs)
            ]
        )
    )
    probe_terms = ["_key"] + [
        f"_key ^ shiftleft(1, element_at(_cand, {t}).bit)"
        for t in range(1, n_probes)
    ]
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            srp_bucket_key(vec_col, dim, n_planes).alias("_key"),
            cand.alias("_cand"),
            _norm_col(vec_col, dim).alias("_qn"),
        )
        .withColumn("_bucket", F.explode(F.expr(f"array({', '.join(probe_terms)})")))
        .drop("_key", "_cand")
    )
    corpus_key = (
        F.col(corpus_bucket_col)
        if corpus_bucket_col is not None
        else srp_bucket_key(vec_col, dim, n_planes)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        corpus_key.alias("_bucket"),
        _norm_col(vec_col, dim).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _pair_cosine("_cv", "_qv", "_cn", "_qn", dim),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_codebook(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 4,
    n_codes: int = 16,
    salt: str = "pq|",
) -> DataFrame:
    """Product-quantization codebook: ``n_codes`` hash-ordered sample
    vectors (the fixed-k sampled-centroid discipline of ``ivf_topk`` —
    O(n_codes·dim) driver-independent state at any corpus size), each
    split into ``n_sub`` subvectors → (sub, cw, subvec) rows.
    Swap in per-subspace k-means (``kmeans_train`` on sliced vectors)
    for trained codebooks; the encode/ADC plan below is unchanged."""
    sub_len = dim // n_sub
    sample = (
        corpus.select(
            F.col(id_col).alias("_sid"),
            F.col(vec_col).alias("_sv"),
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))).alias("_h"),
        )
        .orderBy("_h", "_sid")
        .limit(n_codes)
    )
    w = Window.orderBy("_h", "_sid")
    coded = sample.withColumn("cw", F.row_number().over(w).cast("int"))
    subs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(F.col("_sv"), s * sub_len + 1, sub_len).alias("subvec"),
                )
                for s in range(n_sub)
            ]
        )
    ).alias("p")
    return coded.select("cw", subs).select("cw", "p.sub", "p.subvec")


def pq_codebook_trained(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    salt: str = "pq|",
) -> DataFrame:
    """Per-subspace Lloyd's-k-means PQ codebook (the trained upgrade
    the r11 PQ recall audit demanded): same (cw, sub, subvec) shape
    as ``pq_codebook``, so it drops into ``pq_encode`` /
    ``pq_adc_topk`` without touching the encode/search plan.

    - **Init** = ``pq_codebook``'s hash-ordered sample (iters=0
      reproduces the untrained codebook bit-for-bit).
    - **Assign** (per iteration): squared-L2 argmin against the
      broadcast codebook — the ``pq_encode`` plan verbatim — with
      distances rounded half-up to 6 dp before compare (the repo's
      quantize-before-compare tie discipline), ties to the lower cw.
      One map-side-combinable MIN(struct) agg, no window.
    - **Update**: per-(sub, cw) elementwise mean over components
      floor-quantized to 1e-10 and summed as DECIMAL(38,0) — exact
      integer sums, so means are order-independent and bit-identical
      across engines (``kmeans_train``'s discipline). Cells left
      empty keep their previous codeword.

    Everything is JVM-side DataFrame ops — no Python UDF of any
    kind. Per iteration: one broadcast join + two agg shuffles over
    (pid, sub) / (sub, cw, idx) keys, all map-side combinable, then
    the n_sub·n_codes-row codebook collects to the driver and
    re-broadcasts as a local relation (``kmeans_train``'s documented
    fixed-k driver-state discipline — O(n_sub·n_codes·sub_len) at any
    corpus size, and it keeps the encode/qtab stages from replaying
    the whole training lineage). At 100 TB the corpus streams through
    the assign scan once per iteration — the textbook scalable
    Lloyd's step,×n_sub subspaces in the same pass."""
    sub_len = dim // n_sub
    # r12 optimization (guide §2.3/§2.4): the codebook is fixed-k
    # driver state by contract, so collect the INIT sample once and
    # run every Lloyd iteration as (map-only literal-argmin assign) →
    # (ONE map-side-combined (sub, cw) aggregate) → driver mean — the
    # broadcast-join + (pid, sub)-keyed argmin shuffle + posexplode +
    # per-(sub, cw, idx) shuffle of the previous formulation carried
    # corpus-sized intermediates through three exchanges per
    # iteration for a decision that needs only the row and 512
    # literal codewords. Numerics replay exactly: same _sq_l2 fold
    # order (flat unroll), same round-6 quantize-before-compare, same
    # MIN(dist, cw) tie order, same floor(·1e10) DECIMAL(38,0) sums,
    # and the driver mean float(_s)/n/1e10 is the kmeans_train
    # discipline (decimal→double cast, then two IEEE divides).
    cb_rows = _codebook_rows(
        pq_codebook(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub,
            n_codes=n_codes, salt=salt,
        )
    )
    for _ in range(iters):
        by_sub = _codebook_by_sub(cb_rows)
        # round-ok: quantize-before-compare — the argmin ranks on the
        # 6-dp value in BOTH engines, killing the 1-ulp class.
        # Codebook rides as a literal VALUE (_cb_value_col): the
        # iteration's plan/codegen is value-independent, so the second
        # iteration (new means, new values) re-analyzes a ~50-node
        # tree and hits the codegen cache instead of re-walking and
        # re-compiling a fresh 4k-node literal AST.
        assigns = F.expr(
            _sql_argmin_all_subs(
                "_v", "_cb", n_sub, sub_len, round_digits=6, with_subv=True
            )
        )
        stats = (
            corpus.select(
                F.col(vec_col).alias("_v"),
                _cb_value_col(by_sub).alias("_cb"),
            )
            .select(F.explode(assigns).alias("p"))
            .select("p.sub", "p.cw", "p.subv")
            .groupBy("sub", "cw")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    F.sum(
                        F.floor(
                            F.element_at("subv", i + 1).cast("double")
                            * F.lit(1e10)
                        ).cast("decimal(38,0)")
                    ).alias(f"_s{i}")
                    for i in range(sub_len)
                ],
            )
            .collect()
        )
        new_means: dict[tuple[int, int], list[float]] = {}
        for r in stats:
            n = int(r["_n"])
            new_means[(int(r["sub"]), int(r["cw"]))] = [
                float(r[f"_s{i}"]) / n / 1e10 for i in range(sub_len)
            ]
        # cells left empty by an iteration keep their previous codeword
        cb_rows = [
            (cw, sub, new_means.get((sub, cw), vec)) for cw, sub, vec in cb_rows
        ]
    # fixed-k driver state (kmeans_train discipline): 512 rows at
    # the shipping 32×16 config, independent of corpus size
    return corpus.sparkSession.createDataFrame(
        cb_rows, schema="cw int, sub int, subvec array<double>"
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Fixed-order squared L2 between two float arrays. Explicit
    (x−y)·(x−y), not pow(x−y, 2) — pow may differ from the plain
    product by an ulp between engines, flipping argmin near ties."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


#: above this many literal multiply-accumulate terms
#: (n_sub·n_codes·sub_len) the literal-codebook codegen path falls
#: back to the broadcast-join formulation — expression size is a
#: CONFIG property (codebook dims), never a corpus-size property, so
#: the shipping configs (4×16×16 and 32×16×2 = 1024 terms) stay far
#: under it at any scale.
_PQ_LITERAL_MAX_TERMS = 65536


def _codebook_rows(cb) -> list[tuple[int, int, list[float]]]:
    """Collect a (cw, sub, subvec) codebook into the fixed-k driver
    state the literal encode/assign path consumes — O(n_sub·n_codes·
    sub_len) at any corpus size (the kmeans_train discipline). Accepts
    a DataFrame (one tiny job) or an already-collected row list;
    returns rows sorted by (sub, cw). Collected Python floats are
    IEEE doubles, so re-embedding them as literals is value-exact."""
    if isinstance(cb, DataFrame):
        rows = [
            (int(r["cw"]), int(r["sub"]), [float(x) for x in r["subvec"]])
            for r in cb.collect()
        ]
    else:
        rows = [(int(c), int(s), [float(x) for x in v]) for c, s, v in cb]
    return sorted(rows, key=lambda t: (t[1], t[0]))


def _codebook_by_sub(
    rows: list[tuple[int, int, list[float]]],
) -> dict[int, list[tuple[int, list[float]]]]:
    out: dict[int, list[tuple[int, list[float]]]] = {}
    for cw, sub, vec in rows:
        out.setdefault(sub, []).append((cw, vec))
    for sub in out:
        out[sub].sort()
    return out


def _sql_double(x: float) -> str:
    """Exact double literal: repr() round-trips the IEEE value and the
    ``D`` suffix makes the SQL parser read it as DOUBLE (a bare
    decimal literal would parse as DECIMAL)."""
    return f"{x!r}D"


def _sql_arr(vec: list[float]) -> str:
    return "array(" + ",".join(_sql_double(float(x)) for x in vec) + ")"


def _cb_value_col(
    by_sub: dict[int, list[tuple[int, list[float]]]],
) -> Column:
    """The codebook as ONE constant-folded literal VALUE —
    ``array<array<struct<c:int,v:array<double>>>>`` indexed by
    subspace (element_at(_cb, sub+1) = that subspace's cw-ascending
    candidates) — instead of literal AST (one named_struct/array call
    tree per codeword).

    Why (r12, measured): the literal-AST form costs the driver on
    EVERY pass that walks the plan — analysis per DataFrame
    transformation, every optimizer rule per action, and a fresh
    Janino compile whenever the literal VALUES change (every Lloyd
    iteration, every trained query). At the 32×16 config that was
    1.5 s analysis + 3.0 s first execution per iteration vs
    0.17 s + 1.2 s for this form, with bit-identical output: the
    generated code is value-independent (the folded literal is a
    bound constant), so codegen caches hit across iterations and
    queries. ``from_json`` of a literal string is constant-folded by
    the optimizer (verified in the optimized plan), so nothing is
    parsed per row — the executed plan carries a plain Literal.

    repr() round-trips IEEE doubles exactly and JSON number parsing
    returns the nearest double, so embedding values via JSON is
    value-exact (non-finite values cannot appear in a codebook built
    from finite corpus vectors; guarded anyway)."""
    parts = []
    for s in sorted(by_sub):
        ent = []
        for cw, vec in by_sub[s]:
            vals = [float(x) for x in vec]
            if not all(math.isfinite(x) for x in vals):  # pragma: no cover
                raise ValueError("codebook contains non-finite values")
            ent.append(
                '{"c":%d,"v":[%s]}' % (int(cw), ",".join(repr(x) for x in vals))
            )
        parts.append("[" + ",".join(ent) + "]")
    js = "[" + ",".join(parts) + "]"
    return F.from_json(
        F.lit(js), "array<array<struct<c:int,v:array<double>>>>"
    )


#: the squared-L2 dist fold between a subvector slice and a candidate
#: codeword, replaying ``_sq_l2``'s zip_with/aggregate order verbatim
#: (``{V}`` = vector column, ``{L}`` = sub_len; ``s`` and ``cand`` are
#: bound by the enclosing transform/aggregate lambdas)
_SQL_SUB_DIST = (
    "aggregate(zip_with(slice({V},s*{L}+1,{L}),cand.v,"
    "(x,y)->(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))*(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))),"
    "0.0D,(acc2,v2)->acc2+v2)"
)


def _sql_sub_dist_unrolled(vec_sql: str, sub_len: int) -> str:
    """``_SQL_SUB_DIST`` with the per-element work UNROLLED — the
    identical left-to-right sum from ``0.0D`` of the identical
    ``(x−y)·(x−y)`` terms (bit-identical floats, same order), indexed
    directly into the row vector (``s`` stays the enclosing lambda's
    subspace variable) instead of allocating a ``slice`` and running
    two interpreted folds per candidate. Same rationale as
    ``_sql_cand_cos_unrolled``: the fold form cost ~2·sub_len lambda
    closures + a slice allocation per (row, sub, codeword) — the
    dominant per-row cost of the PQ encode stage."""
    terms = "".join(
        "+(CAST(element_at({V},s*{L}+{j}) AS DOUBLE)-CAST(element_at(cand.v,{j}) AS DOUBLE))"
        "*(CAST(element_at({V},s*{L}+{j}) AS DOUBLE)-CAST(element_at(cand.v,{j}) AS DOUBLE))".format(
            V=vec_sql, L=sub_len, j=j
        )
        for j in range(1, sub_len + 1)
    )
    return f"(0.0D{terms})"


def _sql_argmin_all_subs(
    vec_sql: str,
    cb_sql: str,
    n_sub: int,
    sub_len: int,
    *,
    round_digits: int | None = None,
    with_subv: bool = False,
) -> str:
    """Per-subspace nearest-codeword assignment over the literal-VALUE
    codebook (``_cb_value_col``): one small generic expression —
    ``transform(sequence(0,n_sub-1), s -> struct(sub, argmin cw
    [, subv]))`` — instead of n_sub copies of a per-codeword literal
    tree. The argmin replays MIN(struct(dist, cw)) as the same
    ``least``-fold as ``_sql_argmin_cw`` (init (Infinity, -1), ties to
    the lower cw), and the dist replays ``_sq_l2``'s summation order
    verbatim (unrolled — ``_sql_sub_dist_unrolled``), so assignments
    are bit-identical to both the literal-AST and the broadcast-join
    formulations."""
    dist = _sql_sub_dist_unrolled(vec_sql, sub_len)
    if round_digits is not None:
        # round-ok: quantize-before-compare — the argmin ranks on the
        # quantized distance in BOTH engines (same discipline as the
        # annotated kmeans assign above), killing the 1-ulp class
        dist = f"round({dist},{round_digits})"
    subv = f",'subv',slice({vec_sql},s*{sub_len}+1,{sub_len})" if with_subv else ""
    return (
        f"transform(sequence(0,{n_sub - 1}),s->named_struct("
        "'sub',s,"
        f"'cw',aggregate(element_at({cb_sql},s+1),"
        "named_struct('d',CAST('Infinity' AS DOUBLE),'c',-1),"
        f"(acc,cand)->least(acc,named_struct('d',{dist},'c',cand.c))).c"
        f"{subv}))"
    )


#: cap on n_sub·n_codes for the compiled PQ encode: every argmin
#: least-merge stays INLINE in the generated processNext (only the
#: duplicated distance chains are extracted into their own methods),
#: so the merge count is what approaches the 64 KB codegen wall.
#: Measured (r13, sf0.1 replicas): the 4×16 config (64 chains)
#: compiles clean and beats the interpreted fold 5.4 -> 2.4 s at 10×;
#: the 32×16 config (512 chains) trips "Code grows beyond 64 KB" and
#: its whole-column-dup workaround compiles but RUNS slower than the
#: fold (15.4 vs 6.8 s at 10×) — so past this cap the interpreted
#: literal-VALUE fold is kept deliberately, a measured ruling, not a
#: missing case.
_COMPILED_ENCODE_MAX_CHAINS = 128


def _sql_argmin_sub_compiled(
    vec_sql: str,
    s: int,
    sub_len: int,
    codewords: list[tuple[int, list[float]]],
) -> str:
    """One subspace of ``_sql_argmin_all_subs`` as a fully-codegen'd
    nested expression — the compiled form for CORPUS-scale PQ encode
    (r13; the proven ``_sql_best_cell_compiled`` recipe applied to
    the argmin): ``least(...least(init, d_0, d_0)..., d_{k-1},
    d_{k-1}).c`` where ``d_i = named_struct('d', 0.0D + Σ_j
    (x_{s·L+j} − y_j)·(x_{s·L+j} − y_j), 'c', c_i)`` with the
    codeword components inlined as exact ``repr`` double literals and
    the subspace offsets folded to static indices.

    Bit-identity with the interpreted fold: ``aggregate(arr, init,
    (acc,cand)->least(acc, d(cand)))`` IS the left-nested least chain
    by definition; ``least(a, b, b) == least(a, b)`` exactly (a
    duplicated argument cannot change a minimum, including null/NaN
    semantics); each distance is the identical left-to-right sum from
    ``0.0D`` of the identical ``(x−y)·(x−y)`` terms
    (``_sql_sub_dist_unrolled`` with ``s`` folded to its literal
    value — ``element_at(v, 17)`` vs ``element_at(v, s*16+1)`` at
    ``s=1`` is the same lookup); same init ``(Infinity, -1)``, same
    tie order (lower cw), same int types. The duplicated struct
    argument makes whole-stage codegen's subexpression elimination
    extract every candidate's distance chain into its own generated
    method (the r12 ivf lesson)."""
    acc = "named_struct('d',CAST('Infinity' AS DOUBLE),'c',-1)"
    for cw, vec in codewords:
        # the literal is parenthesized: a negative repr after the
        # minus would otherwise read as ``--``, a SQL comment
        terms = "".join(
            f"+(CAST(element_at({vec_sql},{s * sub_len + j}) AS DOUBLE)"
            f"-({_sql_lit_d(float(vec[j - 1]))}))"
            f"*(CAST(element_at({vec_sql},{s * sub_len + j}) AS DOUBLE)"
            f"-({_sql_lit_d(float(vec[j - 1]))}))"
            for j in range(1, sub_len + 1)
        )
        d = f"named_struct('d',(0.0D{terms}),'c',{int(cw)})"
        acc = f"least({acc},{d},{d})"
    return f"{acc}.c"


def _cents_value_col(pairs: list[tuple[int, list[float]]]) -> Column:
    """Centroid set (cell_id, norm, RAW vector) as ONE constant-folded
    literal VALUE — ``array<struct<c:bigint,n:double,v:array<double>>>``
    — for the JVM cell-assignment expressions below (same literal-value
    rationale and exactness argument as ``_cb_value_col``).

    ``n`` is the centroid's L2 norm precomputed on the DRIVER with the
    identical float recurrence the SQL fold runs — ``acc += x*x`` left
    to right from 0.0, then sqrt — so it is bit-for-bit the value
    ``sqrt(aggregate(cand.v, 0.0D, (a,x)->a+x*x))`` would produce
    (IEEE double add/multiply are deterministic and Python floats ARE
    IEEE doubles; both engines' sqrt is correctly rounded). Carrying
    it as data keeps the generated code value-independent — a norm
    inlined as a double literal would recompile codegen every Lloyd
    iteration — while removing the per-candidate norm fold from every
    corpus row."""
    ent = []
    for cid, vec in pairs:
        vals = [float(x) for x in vec]
        if not all(math.isfinite(x) for x in vals):  # pragma: no cover
            raise ValueError("centroid set contains non-finite values")
        acc = 0.0
        for x in vals:
            acc += x * x
        ent.append(
            '{"c":%d,"n":%s,"v":[%s]}'
            % (int(cid), repr(math.sqrt(acc)), ",".join(repr(x) for x in vals))
        )
    return F.from_json(
        F.lit("[" + ",".join(ent) + "]"),
        "array<struct<c:bigint,n:double,v:array<double>>>",
    )


def _sql_cand_cos(vec_sql: str, round_digits: int) -> str:
    """round(dot/(nc·nq), d) between ``cand.v`` (bound by the
    enclosing lambda) and the ``vec_sql`` column — the DuckDB oracle's
    assignment cosine VERBATIM (``round({_COS_DOT}/({_COS_NC}*
    {_COS_NQ}), 4)`` in oracles.py): zip dot and per-side sum-of-
    squares folds from 0.0, one multiply, one divide, round half-up.

    r12: this replaces the numpy unit-normalize+matmul Arrow kernel.
    The numpy form agreed with the oracle only after the 4-dp
    rounding (unit@unit vs dot/(nc·nq) differ in the last ulp); this
    fold IS the oracle's float expression, so assignment parity holds
    by construction rather than by rounding luck — and the corpus
    assignment stage stops crossing the JVM↔Python boundary
    entirely (guide §4.1: built-ins over UDFs)."""
    dot = (
        f"aggregate(zip_with(cand.v,{vec_sql},"
        "(x,y)->CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),0.0D,(acc2,v2)->acc2+v2)"
    )
    nc = "sqrt(aggregate(cand.v,0.0D,(acc2,x)->acc2+CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    nq = (
        f"sqrt(aggregate({vec_sql},0.0D,"
        "(acc2,x)->acc2+CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    return f"round({dot}/({nc}*{nq}),{round_digits})"


def _sql_cand_cos_unrolled(
    vec_sql: str, dim: int, round_digits: int, nq_sql: str
) -> str:
    """``round(dot/(nc·nq), d)`` against the lambda-bound candidate
    ``cand`` with the per-element work UNROLLED — bit-identical to the
    interpreted ``_sql_cand_cos`` fold it replaces:

    - the dot is the same left-to-right addition chain from ``0.0D``
      (identical float summation order to the zip_with/aggregate
      fold);
    - ``nc`` is the driver-precomputed ``n`` field of the literal
      centroid value (the identical recurrence — ``_cents_value_col``);
    - ``nq`` is the caller's hoisted per-row ``_norm_col`` column
      (the unrolled chain: same order, same bits as the fold).

    Why this shape (measured, r12): the 3-fold form evaluated ~3·k·dim
    interpreted lambda closures PER CORPUS ROW (k=8, dim=64 → ~1500
    closures ≈ ms/row; the embed_ivf_kmeans assign stage ran 30+ s at
    sf0.1 and grew with session age). This body keeps ONE closure per
    candidate and evaluates a flat ~2·dim-node arithmetic tree inside
    it. The fully-flat variant (no lambda, ``greatest`` over k unrolled
    structs) was tried first and REJECTED: the single giant expression
    blows the 64 KB codegen method limit, Janino fails, and the whole
    stage falls back to interpreted — slower than the lambda form."""
    terms = "".join(
        f"+CAST(element_at(cand.v,{j}) AS DOUBLE)"
        f"*CAST(element_at({vec_sql},{j}) AS DOUBLE)"
        for j in range(1, dim + 1)
    )
    return f"round((0.0D{terms})/(cand.n*{nq_sql}),{round_digits})"


def _sql_best_cell(
    vec_sql: str,
    cents_sql: str,
    round_digits: int,
    *,
    k: int | None = None,
    dim: int | None = None,
    nq_sql: str | None = None,
) -> str:
    """Nearest-cell id by (rounded cosine DESC, cell ASC) — the
    oracle's ``row_number() ... WHERE rn = 1`` replayed as one
    greatest-fold over the literal centroid set: larger cosine wins,
    and on a rounded-cosine tie the larger ``-c`` (= lower cell id)
    does. Returns BIGINT (the pandas_udf contract this replaced).

    With ``dim``/``nq_sql`` given (every registered call site — corpus
    width is static), the per-candidate cosine body is the unrolled
    chain of ``_sql_cand_cos_unrolled`` (one closure per candidate
    instead of ~3·dim); without them, the dimension-generic fold is
    kept for arbitrary-width callers."""
    if dim is not None and nq_sql is not None:
        cos = _sql_cand_cos_unrolled(vec_sql, dim, round_digits, nq_sql)
    else:
        cos = _sql_cand_cos(vec_sql, round_digits)
    return (
        f"-aggregate({cents_sql},"
        "named_struct('s',CAST('-Infinity' AS DOUBLE),'nc',CAST(-9223372036854775807 AS BIGINT)),"
        f"(acc,cand)->greatest(acc,named_struct('s',{cos},'nc',-cand.c))).nc"
    )


#: corpus-size estimate (bytes) at and above which cell assignment
#: uses the compiled nested-greatest form instead of the interpreted
#: literal-VALUE fold. Measured crossover at k=16/dim=64 (same box,
#: best-of-3 full embed_ivf_ann): interpreted wins at sf0.1
#: (est 0.8 MB: 2.9 s vs 5.3 s — the compiled form carries a
#: scale-independent ~2 s/run driver+plan constant from its ~5k-node
#: expression tree), compiled wins from the 10× probe up (est
#: 3.4 MB: 5.6 s vs 7.3 s; 30×: 5.8 s vs 18.5 s/28.9 s). Both forms
#: are bit-identical (oracle-checked at sf0.01 AND sf0.1 on each
#: path), so this is plan selection, not semantics.
_COMPILED_ASSIGN_MIN_BYTES = 2 * 1024 * 1024

#: cap on k·dim for the compiled nested-greatest form: its expression
#: text and codegen footprint grow O(k·dim) with every candidate
#: struct duplicated; the validated envelope is k=16/dim=64 (1024 —
#: max generated method 7.6 KB, 1.5 MB source). Far above it (tens of
#: thousands of clusters at web scale) the inlined-literal SQL string
#: reaches hundreds of MB — a driver OOM or parser failure, not a
#: slow plan — so the interpreted literal-VALUE fold (whose state is
#: one array literal) is the only safe form. 2048 keeps a 2× margin
#: over the measured point.
_COMPILED_ASSIGN_MAX_KDIM = 2048


def _use_compiled_assign(
    corpus: DataFrame, *, k: int | None = None, dim: int | None = None
) -> bool:
    """Scale-adaptive form selection for corpus cell assignment
    (guide §1.2: fix the algorithm for the scale you actually run
    at). Uses Catalyst's own size estimate — the same statistic
    broadcast decisions run on — so the choice is derived from input
    size, not hard-coded for either local mode or the cluster; at
    100 TB every corpus takes the compiled path. Two guards keep the
    compiled form inside its measured envelope: ``k·dim`` must stay
    under ``_COMPILED_ASSIGN_MAX_KDIM``, and an estimate equal to
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue unless
    configured) is treated as UNKNOWN — plans without real statistics
    report exactly that value, and the conservative posture when no
    estimate exists is the interpreted fold."""
    if k is not None and dim is not None and k * dim > _COMPILED_ASSIGN_MAX_KDIM:
        return False
    try:
        est = int(
            corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        unknown = int(
            corpus.sparkSession.conf.get(
                "spark.sql.defaultSizeInBytes", str(2**63 - 1)
            )
        )
    except Exception:  # pragma: no cover - conservative: keep the
        return False  # interpreted fold when no estimate exists
    if est == unknown:  # stats absent, not "huge" (ADVICE r12)
        return False
    return est >= _COMPILED_ASSIGN_MIN_BYTES


def _sql_lit_d(x: float) -> str:
    """SQL double literal with exact value round-trip: ``repr`` of an
    IEEE double is its shortest uniquely-identifying decimal string,
    and the SQL parser returns the nearest double — i.e. the same
    bits (the identical argument ``_cb_value_col`` makes for JSON
    number parsing)."""
    if not math.isfinite(x):  # pragma: no cover
        raise ValueError("non-finite literal in centroid set")
    return repr(float(x)).upper() + "D"


def _sql_best_cell_compiled(
    vec_sql: str,
    nq_sql: str,
    cent_pairs: list[tuple[int, list[float]]],
    round_digits: int,
    *,
    dim: int,
) -> str:
    """``_sql_best_cell`` as ONE fully-codegen'd nested expression —
    the compiled form for CORPUS-scale assignment (r12 session 4).

    Shape: ``-greatest(...greatest(greatest(init, s_0, s_0), s_1,
    s_1)..., s_{k-1}, s_{k-1}).nc`` where ``s_i = named_struct('s',
    round(dot_i/(n_i·nq), d), 'nc', -c_i)`` with the candidate's
    components and driver-precomputed norm inlined as exact double
    literals (``_sql_lit_d``).

    Bit-identity with the interpreted fold it replaces:

    - ``aggregate(cents, init, (acc,cand)->greatest(acc, s(cand)))``
      IS by definition the left-nested chain
      ``greatest(...greatest(init, s_0)..., s_{k-1})``; and
      ``greatest(a, b, b) == greatest(a, b)`` exactly (a duplicated
      argument can never change a maximum, including Spark's NaN-
      largest / null-skipping semantics), so the duplicated ``s_i``
      is a pure identity.
    - each dot is the identical left-to-right addition chain from
      ``0.0D`` (same float summation order); the candidate norm is
      the identical driver recurrence ``_cents_value_col`` computes;
      ``nq`` is the caller's hoisted ``_norm_col`` column; same
      ``round``, same init struct, same final ``-….nc``.

    Why the duplicated struct argument (measured, r12): with each
    ``s_i`` appearing twice, whole-stage codegen's subexpression
    elimination extracts every candidate's cosine chain into its own
    generated method (~3-5 KB bytecode each, JIT-compilable), leaving
    only the k greatest() merges inline in ``processNext`` — max
    generated method 7.6 KB at k=16/dim=64. With single-use ``s_i``
    the chains inline into one method that blows the 64 KB codegen
    wall at k=16 (Janino fails, the stage falls back to interpreted,
    and every execution re-attempts the doomed compile). The lambda
    fold this replaces kept codegen alive but evaluated ~k·dim
    interpreted closure nodes per corpus row — invisible at sf0.1,
    the dominant cost at the 10×/30× probes (embed_ivf_ann 30×:
    28.9 s interpreted vs ~6 s compiled).

    Trade-off (documented): the generated code is value-DEPENDENT
    (literals inline), so a changed centroid set recompiles (~0.3 s)
    — right for one-shot corpus assignment where the per-row win is
    unbounded; per-iteration training loops amortize it over a full
    corpus pass at scale."""
    acc = (
        "named_struct('s',CAST('-Infinity' AS DOUBLE),"
        "'nc',CAST(-9223372036854775807 AS BIGINT))"
    )
    for cid, vec_vals in cent_pairs:
        nacc = 0.0
        for x in vec_vals:
            nacc += float(x) * float(x)
        n = math.sqrt(nacc)
        terms = "".join(
            f"+CAST(element_at({vec_sql},{j}) AS DOUBLE)"
            f"*{_sql_lit_d(float(vec_vals[j - 1]))}"
            for j in range(1, dim + 1)
        )
        cos = f"round((0.0D{terms})/({_sql_lit_d(n)}*{nq_sql}),{round_digits})"
        s = f"named_struct('s',{cos},'nc',{-int(cid)}L)"
        acc = f"greatest({acc},{s},{s})"
    return f"-{acc}.nc"


def _sql_probe_cells(
    vec_sql: str,
    cents_sql: str,
    nprobe: int,
    round_digits: int,
    *,
    k: int | None = None,
    dim: int | None = None,
    nq_sql: str | None = None,
) -> str:
    """The query's ``nprobe`` nearest cell ids, (rounded cosine DESC,
    cell ASC) — the oracle's ``rn <= nprobe`` replayed as one
    array_sort with an explicit comparator + slice. Returns
    array<bigint> in probe order. ``dim``/``nq_sql`` select the
    unrolled per-candidate cosine body (see ``_sql_best_cell``)."""
    if dim is not None and nq_sql is not None:
        cos = _sql_cand_cos_unrolled(vec_sql, dim, round_digits, nq_sql)
    else:
        cos = _sql_cand_cos(vec_sql, round_digits)
    return (
        f"transform(slice(array_sort(transform({cents_sql},"
        f"cand->named_struct('s',{cos},'c',cand.c)),"
        "(l,r)->CASE WHEN l.s>r.s THEN -1 WHEN l.s<r.s THEN 1"
        " WHEN l.c<r.c THEN -1 WHEN l.c>r.c THEN 1 ELSE 0 END),"
        f"1,{nprobe}),e->e.c)"
    )


def _sql_argmin_cw(
    vec_sql: str,
    pos0: int,
    sub_len: int,
    cands: list[tuple[int, list[float]]],
    *,
    round_digits: int | None = None,
) -> str:
    """Nearest-codeword id by squared L2 over literal codewords —
    ties to the lower cw, replaying MIN(struct(dist, cw)) as a
    ``least``-fold over the cw-ascending candidate array (no
    broadcast join, no shuffle: the argmin decision needs only the
    row and the fixed-k codebook — guide §2.4's remove-the-exchange
    move). The distance replays ``_sq_l2``'s zip_with/aggregate fold
    verbatim, so doubles are bit-identical to the join formulation
    this replaces. Rendered as ONE SQL string parsed by a single
    ``F.expr`` — building the same tree through the Column API costs
    thousands of py4j round trips (~9 s of pure driver time per
    iteration at the 32×16 config, measured)."""
    cands_sql = "array(" + ",".join(
        f"named_struct('c',{int(cw)},'v',{_sql_arr(v)})" for cw, v in cands
    ) + ")"
    # unrolled (static subspace offset): identical left-to-right sum
    # of identical (x−y)·(x−y) terms — see _sql_sub_dist_unrolled
    dist = "(0.0D" + "".join(
        f"+(CAST(element_at({vec_sql},{pos0 + j}) AS DOUBLE)-CAST(element_at(cand.v,{j}) AS DOUBLE))"
        f"*(CAST(element_at({vec_sql},{pos0 + j}) AS DOUBLE)-CAST(element_at(cand.v,{j}) AS DOUBLE))"
        for j in range(1, sub_len + 1)
    ) + ")"
    if round_digits is not None:
        # round-ok: quantize-before-compare — the argmin ranks on the
        # quantized distance in BOTH engines (the kmeans-assign
        # discipline), killing the 1-ulp class
        dist = f"round({dist},{round_digits})"
    # least(acc, cand_struct) == MIN(struct(dist, cw)): smaller (d, c)
    # wins, and on a distance tie the lower cw does (cw unique)
    return (
        f"aggregate({cands_sql},"
        "named_struct('d',CAST('Infinity' AS DOUBLE),'c',-1),"
        f"(acc,cand)->least(acc,named_struct('d',{dist},'c',cand.c))).c"
    )


def _sql_dot(vec_sql: str, pos0: int, sub_len: int, codeword: list[float]) -> str:
    """Query-side ADC table entry: the verbatim zip_with/aggregate dot
    fold of pq_adc_topk's qtab, with the codeword as a literal array
    instead of a broadcast column — same values, no broadcast."""
    return (
        f"aggregate(zip_with(slice({vec_sql},{pos0 + 1},{sub_len}),{_sql_arr(codeword)},"
        "(x,y)->CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),0.0D,(acc,v)->acc+v)"
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 4,
) -> DataFrame:
    """PQ codes: (id, sub, cw) — nearest codeword per subspace,
    ties toward the lower codeword id. The codebook broadcasts
    (n_codes × n_sub rows); the argmin is a map-side-combinable
    MIN(struct(dist, cw)) — one aggregation keyed on (id, sub),
    never a window over the exploded candidates. At 64× corpus rows
    of candidates this is the real PQ build cost, linear and
    shuffle-bounded by the (id, sub) key space.

    r12 optimization (guide §2.4): the codebook is fixed-k driver
    state, so the argmin runs as a literal-codeword codegen
    PROJECTION — encode is now map-only (zero shuffle, zero
    broadcast); the former broadcast-join + MIN(struct) agg shuffled
    n_sub rows per corpus vector to make a decision that needs only
    the row and ≤512 codewords. Distances replay ``_sq_l2``'s fold
    order exactly (raw doubles, no rounding — the original argmin
    semantics), ties to the lower cw. Codebooks bigger than
    ``_PQ_LITERAL_MAX_TERMS`` terms fall back to the join plan."""
    sub_len = dim // n_sub
    rows = _codebook_rows(codebook)
    if len(rows) * sub_len > _PQ_LITERAL_MAX_TERMS:  # pragma: no cover
        return _pq_encode_join(
            corpus, rows, id_col=id_col, vec_col=vec_col, sub_len=sub_len
        )
    by_sub = _codebook_by_sub(rows)
    # corpus-scale encode: scale-adaptive between the compiled
    # nested-least form and the interpreted literal-VALUE fold — the
    # same selector (and the same bit-identity argument) as the IVF
    # cell assignment; k·dim here is n_codes·dim, inside the
    # validated envelope at both registered configs (4×16 and 32×16
    # both give 16·64 = 1024)
    n_codes = max(len(v) for v in by_sub.values())
    if n_sub * n_codes <= _COMPILED_ENCODE_MAX_CHAINS and _use_compiled_assign(
        corpus, k=n_codes, dim=n_sub * sub_len
    ):
        # the argmin chains live in a PROJECT (one column per
        # subspace), never inside the explode: whole-stage codegen
        # splits a projection's dup-arg subexpressions into their own
        # methods, while a generator input is emitted as one body
        # that blows the 64 KB wall at every registered config
        # (measured r13 — 12.7 s interpreted fallback vs 0.6 s)
        coded = corpus.select(
            F.col(id_col).alias("pid"),
            *[
                F.expr(
                    _sql_argmin_sub_compiled(
                        f"`{vec_col}`", s, sub_len, by_sub[s]
                    )
                ).alias(f"_cw{s}")
                for s in range(n_sub)
            ],
        )
        rows_sql = ",".join(
            f"named_struct('sub',{s},'cw',_cw{s})" for s in range(n_sub)
        )
        return (
            coded.select("pid", F.explode(F.expr(f"array({rows_sql})")).alias("p"))
            .select("pid", "p.sub", "p.cw")
        )
    # literal-VALUE codebook + one generic argmin expression (see
    # _cb_value_col): same map-only plan, same bits, none of the
    # per-value analysis/compile cost of the literal-AST form
    assigns = F.expr(
        _sql_argmin_all_subs("_v", "_cb", n_sub, sub_len)
    )
    return (
        corpus.select(
            F.col(id_col).alias("pid"),
            F.col(vec_col).alias("_v"),
            _cb_value_col(by_sub).alias("_cb"),
        )
        .select("pid", F.explode(assigns).alias("p"))
        .select("pid", "p.sub", "p.cw")
    )


def _pq_encode_join(
    corpus: DataFrame,
    cb_rows: list[tuple[int, int, list[float]]],
    *,
    id_col: str,
    vec_col: str,
    sub_len: int,
) -> DataFrame:  # pragma: no cover - big-codebook fallback
    """The pre-r12 broadcast-join encode, kept for codebooks too large
    for the literal-projection path (a config property, not a corpus
    property — no registered config reaches it)."""
    codebook = corpus.sparkSession.createDataFrame(
        cb_rows, schema="cw int, sub int, subvec array<double>"
    )
    cand = (
        corpus.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(codebook))
        .withColumn(
            "_dist",
            _sq_l2(
                F.slice(F.col("_v"), F.col("sub") * sub_len + 1, sub_len),
                F.col("subvec"),
            ),
        )
    )
    return (
        cand.groupBy("pid", "sub")
        .agg(F.min(F.struct("_dist", "cw")).alias("_best"))
        .select("pid", "sub", F.col("_best.cw").alias("cw"))
    )


def _pq_query_table(
    queries: DataFrame,
    cb_rows: list[tuple[int, int, list[float]]],
    *,
    id_col: str,
    vec_col: str,
    sub_len: int,
) -> DataFrame:
    """Per-query ADC lookup table (query_id, sub, cw, contrib) as a
    literal-codeword projection — replaces the crossJoin(broadcast(cb))
    formulation (one fewer broadcast exchange and no codebook-subtree
    re-materialization). contrib replays the zip_with/aggregate dot
    fold exactly: ((0.0 + x1·y1) + x2·y2)…, round 6, DECIMAL(18,6).
    The codebook rides as a literal VALUE (``_cb_value_col``) under
    one generic flatten/transform expression — same plan, same bits,
    none of the per-value analysis/compile cost of the literal AST."""
    by_sub = _codebook_by_sub(cb_rows)
    n_sub = len(by_sub)
    dot = (
        "aggregate(zip_with(slice(_qv,s*{L}+1,{L}),cand.v,"
        "(x,y)->CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),0.0D,(acc,v)->acc+v)"
    ).format(L=sub_len)
    entries = F.expr(
        f"flatten(transform(sequence(0,{n_sub - 1}),s->"
        "transform(element_at(_cb,s+1),cand->named_struct("
        "'sub',s,'cw',cand.c,"
        f"'contrib',CAST(round({dot},6) AS DECIMAL(18,6))))))"
    )
    return (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _cb_value_col(by_sub).alias("_cb"),
        )
        .select("query_id", F.explode(entries).alias("p"))
        .select("query_id", "p.sub", "p.cw", "p.contrib")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_sub: int = 4,
    n_codes: int = 16,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ search (Jégou et al., TPAMI 2011): the
    corpus is stored as ``n_sub`` byte codes per vector (16×
    compression at these defaults — the codebook reconstructs the
    rest); each query precomputes one inner-product lookup table per
    subspace against the codebook (n_sub × n_codes entries, broadcast
    side), and every candidate's score is the sum of n_sub table
    lookups — no full-vector math against the corpus at query time.

    Returns (query_id, neighbor_id, adc_dot, rank): approximate dot
    product, ranked desc with neighbor-id tie-break. Per-subspace
    contributions round to 6 dp and DECIMAL-sum, so scores are
    engine/partitioning-exact (the repo's float convention).

    ``codebook`` swaps in an alternative (cw, sub, subvec) codebook —
    e.g. ``pq_codebook_trained`` — leaving the encode/ADC plan below
    untouched (the r11 verdict's "same plan, trained model" seam).

    r12 optimization (guide §2.4): the codebook collects once
    (fixed-k driver state) and both the corpus encode and the
    per-query lookup tables are literal-codeword codegen projections
    — the two broadcast exchanges of the codebook subtree (which each
    re-materialized the hash-ordered sample scan) and the encode's
    (pid, sub) argmin shuffle are gone; the ADC join/agg/window plan
    is unchanged. Dot products replay the zip_with/aggregate fold
    order exactly."""
    sub_len = dim // n_sub
    cb_rows = _codebook_rows(
        codebook if codebook is not None else pq_codebook(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub,
            n_codes=n_codes,
        )
    )
    codes = pq_encode(
        corpus, cb_rows, id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub
    )
    qtab = _pq_query_table(queries, cb_rows, id_col=id_col, vec_col=vec_col,
                           sub_len=sub_len)
    scored = (
        codes.join(F.broadcast(qtab), ["sub", "cw"])
        .filter(F.col("pid") != F.col("query_id"))
        .groupBy("query_id", F.col("pid").alias("neighbor_id"))
        .agg(F.sum("contrib").alias("_adc"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("_adc").cast("double").alias("adc_dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dot", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    dim: int = 64,
    n_sub: int = 4,
    n_codes: int = 16,
    round_digits: int = 4,
    codebook: DataFrame | None = None,
    cells: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF-PQ: the FAISS production architecture — a coarse inverted
    index bounds WHICH candidates are scored (nprobe cells instead of
    the whole corpus) and product quantization bounds WHAT is stored
    and HOW scoring costs (n_sub byte codes + table lookups instead
    of full-vector math). Returns (query_id, neighbor_id, adc_dot,
    rank).

    Composition of the two existing machines, unchanged: cell
    sample/assignment mirrors ``ivf_topk`` (hash-ordered fixed-k
    centroids, map-only JVM fold assignment); codes/tables mirror
    ``pq_adc_topk`` (broadcast codebook, MIN(struct) argmin,
    rounded+DECIMAL-summed lookups). Non-residual codes — classic
    IVF-PQ subtracts the cell centroid first; same plan, one more
    map-side arithmetic stage if recall demands it."""
    # --- coarse quantizer: mirrors ivf_topk's sampled centroids;
    # ``cells`` (r12) swaps in a TRAINED (k, dim) matrix from
    # kmeans_train (cell ids 0..k-1) — probe plan identical, and
    # ``codebook`` swaps a trained PQ codebook into the unchanged
    # encode/ADC stages (the pq_adc_topk seam)
    if cells is not None:
        cent_pairs = [
            (i, [float(x) for x in np.asarray(cells, dtype=np.float64)[i]])
            for i in range(len(cells))
        ]
    else:
        cent_pairs = _hash_centroid_rows(corpus, id_col, vec_col, n_centroids)
    # r12: JVM greatest-fold assignment / array_sort probe over the
    # literal-VALUE centroid set (oracle arithmetic verbatim) — no
    # ArrowEvalPython on either side
    # corpus-scale assignment: scale-adaptive between the compiled
    # nested-greatest form and the interpreted literal-VALUE fold
    # (bit-identical; see _sql_best_cell_compiled / _use_compiled_assign)
    pre_c = corpus.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).alias("_v"),
        _norm_col(vec_col, dim).alias("_vn"),
    )
    if _use_compiled_assign(corpus, k=len(cent_pairs), dim=dim):
        corpus_cell = pre_c.select(
            "pid",
            F.expr(
                _sql_best_cell_compiled(
                    "_v", "_vn", cent_pairs, round_digits, dim=dim,
                )
            ).alias("cell"),
        )
    else:
        corpus_cell = pre_c.withColumn(
            "_cents", _cents_value_col(cent_pairs)
        ).select(
            "pid",
            F.expr(
                _sql_best_cell(
                    "_v", "_cents", round_digits,
                    k=len(cent_pairs), dim=dim, nq_sql="_vn",
                )
            ).alias("cell"),
        )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_v"),
        _cents_value_col(cent_pairs).alias("_cents"),
        _norm_col(vec_col, dim).alias("_vn"),
    ).select(
        "query_id",
        F.explode(
            F.expr(
                _sql_probe_cells(
                    "_v", "_cents", nprobe, round_digits,
                    k=len(cent_pairs), dim=dim, nq_sql="_vn",
                )
            )
        ).alias("cell"),
    )
    # --- PQ store + query tables: mirrors pq_adc_topk (r12: literal
    # collected codebook — map-only encode/qtab, see pq_adc_topk) ----
    cb_rows = _codebook_rows(
        codebook if codebook is not None else pq_codebook(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub,
            n_codes=n_codes,
        )
    )
    codes = pq_encode(
        corpus, cb_rows, id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub
    )
    sub_len = dim // n_sub
    qtab = _pq_query_table(queries, cb_rows, id_col=id_col, vec_col=vec_col,
                           sub_len=sub_len)
    pairs = (
        probes.join(corpus_cell, "cell")
        .select("query_id", "pid")
        .dropDuplicates(["query_id", "pid"])
        .filter(F.col("pid") != F.col("query_id"))
    )
    scored = (
        pairs.join(codes, "pid")
        .join(F.broadcast(qtab), ["query_id", "sub", "cw"])
        .groupBy("query_id", F.col("pid").alias("neighbor_id"))
        .agg(F.sum("contrib").alias("_adc"))
        .select(
            "query_id", "neighbor_id", F.col("_adc").cast("double").alias("adc_dot")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dot", "rank")
    )


def kmeans_train(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    assign_digits: int = 4,
) -> np.ndarray:
    """Lloyd's k-means over the embedding column, returning a (k, dim)
    float64 centroid matrix. Deterministic by construction so the
    trained model itself is oracle-checkable:

    - **Init**: the ``k`` corpus vectors ranked first by
      ``md5(cast(id as string))`` (hash-ordered ``LIMIT k`` — a
      TakeOrdered, O(k·dim) on the driver at any corpus size),
      centroid index = rank position.
    - **Assign** (map-only, JVM fold over the literal-value
      centroids — r12, no Python boundary): nearest centroid by
      cosine rounded half-up to ``assign_digits``; ties break toward
      the lower centroid index. Zero shuffle.
    - **Update** (one agg shuffle per iteration, map-side combined):
      per-cell elementwise mean computed over components
      floor-quantized to 1e-10 — ``sum(floor(x * 1e10))`` is an exact
      integer sum (carried as DECIMAL(38,0) / HUGEINT so a 1e9-row
      cell cannot overflow int64), so the mean is order-independent
      and bit-identical across engines (no float-summation-order or
      decimal-rounding ambiguity); mean = sum / n / 1e10 in IEEE
      double. Cells left empty by an iteration keep their previous
      centroid.

    Per iteration the driver holds exactly k aggregate rows —
    O(k·dim) regardless of corpus size. At 100 TB: the corpus
    streams through the assign stage (one JVM fold per row),
    and each update is a single 64-column BIGINT-sum aggregation with
    partial map-side combine — the textbook scalable Lloyd's step.
    (Upgrade of the hash-sampled IVF centroid stand-in the round-1
    verdict flagged; same fixed-k driver posture, now actually
    trained.)
    """
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    cents = np.array(
        [[float(x) for x in r[1]] for r in rows], dtype=np.float64
    )

    # r12 (guide §4.1 + the literal-value discipline): the assignment
    # is a JVM greatest-fold over the literal-VALUE centroids — the
    # oracle's round(dot/(nc·nq), d) arithmetic VERBATIM instead of
    # the numpy unit-normalize+matmul Arrow kernel (which matched the
    # oracle only after rounding) — and the update is ONE
    # (cell, idx)-keyed sum over posexploded components instead of a
    # 64-column aggregate (same DECIMAL(38,0) sums reassembled on the
    # driver; the 64-expression agg cost ~2 s analysis + a fresh
    # codegen compile per iteration).
    for _ in range(iters):
        cent_pairs = [(i, [float(x) for x in cents[i]]) for i in range(k)]
        stats = (
            corpus.select(
                F.col(vec_col).alias("_v"),
                _cents_value_col(cent_pairs).alias("_cents"),
                _norm_col(vec_col, dim).alias("_nq"),
            )
            .select(
                F.expr(
                    _sql_best_cell(
                        "_v", "_cents", assign_digits,
                        k=len(cent_pairs), dim=dim, nq_sql="_nq",
                    )
                ).alias("_cell"),
                F.posexplode(F.col("_v")).alias("_idx", "_x"),
            )
            .select(
                "_cell",
                "_idx",
                F.floor(F.col("_x").cast("double") * F.lit(1e10))
                .cast("decimal(38,0)")
                .alias("_q"),
            )
            .groupBy("_cell", "_idx")
            .agg(F.count(F.lit(1)).alias("_n"), F.sum("_q").alias("_s"))
            .collect()
        )
        new = cents.copy()
        per_cell: dict[int, list] = {}
        for row in stats:
            per_cell.setdefault(int(row["_cell"]), []).append(row)
        for cell, cell_rows in per_cell.items():
            n = int(cell_rows[0]["_n"])
            means = [0.0] * dim
            for row in cell_rows:
                means[int(row["_idx"])] = float(row["_s"]) / n / 1e10
            new[cell] = means
        cents = new
    return cents


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    dim: int = 64,
    round_digits: int = 4,
) -> DataFrame:
    """IVF ANN over TRAINED (Lloyd's) centroids:
    (query_id, neighbor_id, cosine, rank).

    Same probe plan shape as ``ivf_topk`` — map-only JVM fold assignment
    of the corpus, broadcast probe side exploded over its ``nprobe``
    nearest cells, candidate equi-join on cell id, JVM cosine, window
    top-k — but the cells come from ``kmeans_train``, so occupancy is
    balanced by the data rather than by luck of the sample. Centroid
    indices (0..k-1) are the cell ids; assignment ranks by rounded
    cosine desc, index asc.
    """
    cents = kmeans_train(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        k=n_centroids,
        iters=iters,
        dim=dim,
        assign_digits=round_digits,
    )
    cent_pairs = [(i, [float(x) for x in cents[i]]) for i in range(n_centroids)]
    # r12: JVM greatest-fold assignment / array_sort probe over the
    # literal-VALUE trained centroids (oracle arithmetic verbatim) —
    # no ArrowEvalPython on either side
    # corpus-scale assignment: scale-adaptive compiled/interpreted
    # (bit-identical; see _sql_best_cell_compiled / _use_compiled_assign)
    pre_c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm_col(vec_col, dim).alias("_cn"),
    )
    if _use_compiled_assign(corpus, k=len(cent_pairs), dim=dim):
        c = pre_c.select(
            "neighbor_id",
            "_cv",
            F.expr(
                _sql_best_cell_compiled(
                    "_cv", "_cn", cent_pairs, round_digits, dim=dim,
                )
            ).alias("_cell"),
            "_cn",
        )
    else:
        c = pre_c.withColumn("_cents", _cents_value_col(cent_pairs)).select(
            "neighbor_id",
            "_cv",
            F.expr(
                _sql_best_cell(
                    "_cv", "_cents", round_digits,
                    k=len(cent_pairs), dim=dim, nq_sql="_cn",
                )
            ).alias("_cell"),
            "_cn",
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _cents_value_col(cent_pairs).alias("_cents"),
        _norm_col(vec_col, dim).alias("_qn"),
    ).select(
        "query_id",
        "_qv",
        F.explode(
            F.expr(
                _sql_probe_cells(
                    "_qv", "_cents", nprobe, round_digits,
                    k=len(cent_pairs), dim=dim, nq_sql="_qn",
                )
            )
        ).alias("_cell"),
        "_qn",
    )
    scored = (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _pair_cosine("_cv", "_qv", "_cn", "_qn", dim),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hash_centroid_rows(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[tuple[int, list[float]]]:
    """Deterministic hash-sampled centroid set as RAW (id, vector)
    pairs, id-ascending — the driver state the JVM assignment folds
    consume (``_cents_value_col``). Same TakeOrdered selection as
    the numpy variant this replaced: O(n_centroids · dim) at any corpus
    size, never a full sort or collect."""
    return sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )


def knn_graph(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    round_digits: int = 4,
    max_cell_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate kNN GRAPH: every corpus vector's top-``k``
    neighbors among the vectors sharing its IVF cell —
    ``(src_id, dst_id, cosine, rank)``. The graph-construction twin
    of :func:`ivf_topk`: that answers "neighbors of these queries",
    this materializes the edge list for the whole corpus — the
    backbone primitive for embedding clustering, SemDeDup-style
    pruning, and graph-based label spreading over a corpus.

    Both sides of the candidate join are corpus-scale, so unlike the
    query-path ANN there is no side that is broadcast-safe BY
    CONSTRUCTION: the join is declared as a plain equi-join on the
    cell id and Catalyst picks the strategy from statistics — a
    co-partitioned sort-merge/shuffle-hash join at corpus scale, a
    legitimate broadcast at test scale where the corpus fits. The
    assignment pass before it is a map-only JVM fold against the
    O(n_centroids · dim) constant-folded centroid literal (r12 — no
    Python boundary). Per-cell work is quadratic in the CELL size, not the
    corpus: with C cells the expected pair volume is n²/C, the
    semantic_dedup posture. For skewed/untrained centroids,
    ``max_cell_rows`` caps the NEIGHBOR side per cell by the same
    deterministic (md5(id), id) ranking used everywhere else
    (hot-bucket-cap discipline: every src still gets ranked
    neighbors, drawn from a bounded, replayable subset), so the
    worst cell costs O(cell · max_cell_rows) instead of O(cell²).

    Determinism: hash-sampled centroids, rounded-cosine stable
    assignment, and (cosine DESC, dst_id ASC) ranking make the edge
    list a pure function of the corpus — a DuckDB oracle replays it
    exactly.
    """
    cents = _hash_centroid_rows(corpus, id_col, vec_col, n_centroids)
    # r12: JVM greatest-fold assignment over the literal-VALUE
    # centroid set (oracle arithmetic verbatim) — no ArrowEvalPython
    pre = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm_col(vec_col, dim).alias("_n"),
    )
    if dim is not None and _use_compiled_assign(corpus, k=len(cents), dim=dim):
        # corpus-scale assignment: compiled nested-greatest form
        # (bit-identical; see _sql_best_cell_compiled / _use_compiled_assign)
        best = _sql_best_cell_compiled("_v", "_n", cents, round_digits, dim=dim)
        assigned = pre.select("_id", "_v", F.expr(best).alias("_cell"), "_n")
    else:
        assigned = pre.withColumn(
            "_cents", _cents_value_col(cents)
        ).select(
            "_id",
            "_v",
            F.expr(
                _sql_best_cell(
                    "_v", "_cents", round_digits,
                    k=len(cents), dim=dim, nq_sql="_n",
                )
            ).alias("_cell"),
            "_n",
        )
    nbrs = assigned
    if max_cell_rows is not None:
        wcap = Window.partitionBy("_cell").orderBy(
            F.md5(F.col("_id").cast("string")), F.col("_id")
        )
        nbrs = (
            assigned.withColumn("_cr", F.row_number().over(wcap))
            .filter(F.col("_cr") <= max_cell_rows)
            .drop("_cr")
        )
    a = assigned.select(
        F.col("_id").alias("src_id"), F.col("_v").alias("_av"), "_cell",
        F.col("_n").alias("_an"),
    )
    b = nbrs.select(
        F.col("_id").alias("dst_id"), F.col("_v").alias("_bv"), "_cell",
        F.col("_n").alias("_bn"),
    )
    scored = (
        a.join(b, "_cell")
        .filter(F.col("src_id") != F.col("dst_id"))
        .withColumn(
            "cosine",
            F.round(
                _pair_cosine("_av", "_bv", "_an", "_bn", dim),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("dst_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    round_digits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style ANN: (query_id, neighbor_id, cosine, rank).

    Centroids are a FIXED-SIZE deterministic sample: the
    ``n_centroids`` corpus vectors ranked first by
    ``md5(cast(id as string))`` (id as tiebreak) — a hash-ordered
    ``LIMIT k``, i.e. a uniform pseudo-random but reproducible and
    oracle-checkable sample, standing in for trained k-means
    (the *plan shape* is identical, which is what matters for the
    engine). Assignment ranks centroids by rounded cosine desc,
    centroid id asc, so the approximation is a defined result.

    Plan shape at scale: the centroid set is O(n_centroids · dim)
    regardless of corpus size — selection is a TakeOrdered (per-
    partition top-k + driver merge, never a full sort or full
    collect) — and rides as a constant-folded literal VALUE
    (``_cents_value_col``); corpus assignment is a *map-only* JVM
    greatest-fold (zero shuffle, no Python boundary — r12 replaced
    the Arrow numpy-matmul kernel; see ``_sql_cand_cos``); the only
    shuffles are the candidate equi-join on centroid id (query side
    broadcast) and the final top-k window on query_id. Candidate
    scoring stays JVM-side, identical to the oracle's arithmetic.
    """
    cents = _hash_centroid_rows(corpus, id_col, vec_col, n_centroids)
    # r12: cell assignment is a JVM greatest-fold over the literal-
    # VALUE centroid set — the oracle's (rounded cosine DESC, cell
    # ASC) arithmetic verbatim — replacing the Arrow numpy-matmul
    # kernel (no ArrowEvalPython stage, no Python workers on the
    # corpus path; see _sql_cand_cos for the exactness argument)
    pre = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm_col(vec_col, dim).alias("_cn"),
    )
    if dim is not None and _use_compiled_assign(corpus, k=len(cents), dim=dim):
        # corpus-scale assignment: compiled nested-greatest form
        # (bit-identical; see _sql_best_cell_compiled / _use_compiled_assign)
        best = _sql_best_cell_compiled("_cv", "_cn", cents, round_digits, dim=dim)
        c = pre.select("neighbor_id", "_cv", F.expr(best).alias("_cell"), "_cn")
    else:
        c = pre.withColumn("_cents", _cents_value_col(cents)).select(
            "neighbor_id",
            "_cv",
            F.expr(
                _sql_best_cell(
                    "_cv", "_cents", round_digits,
                    k=len(cents), dim=dim, nq_sql="_cn",
                )
            ).alias("_cell"),
            "_cn",
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _cents_value_col(cents).alias("_cents"),
        _norm_col(vec_col, dim).alias("_qn"),
    ).select(
        "query_id",
        "_qv",
        F.explode(
            F.expr(
                _sql_probe_cells(
                    "_qv", "_cents", nprobe, round_digits,
                    k=len(cents), dim=dim, nq_sql="_qn",
                )
            )
        ).alias("_cell"),
        "_qn",
    )
    scored = (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _pair_cosine("_cv", "_qv", "_cn", "_qn", dim),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def truncated_recall(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 16,
    k: int = 5,
    round_digits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Recall@k of TRUNCATED-dimension search against full-dimension
    search — the measurement behind Matryoshka-style embedding
    deployments (Kusupati et al., NeurIPS'22): store/search only the
    first ``dims`` components, and quantify what that costs on YOUR
    corpus before committing the index to it. At 100 TB the truncated
    index is dims/D of the scan bytes and the same plan shape, so
    this one number prices the trade.

    Per query: top-k under first-``dims`` cosine vs top-k under full
    cosine (both exact, rounded-then-ranked with the engine's
    (cosine DESC, id ASC) determinism), reporting the overlap count
    and recall@k = overlap/k. Returns (query_id, n_overlap, recall).
    """
    full = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k,
        round_digits=round_digits, dim=dim,
    ).select("query_id", "neighbor_id")
    trunc_corpus = corpus.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, dims).alias(vec_col)
    )
    trunc_queries = queries.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, dims).alias(vec_col)
    )
    # the truncated side is exactly ``dims`` wide by construction, so
    # its unrolled length is statically known even when the caller
    # leaves the full-corpus ``dim`` generic
    trunc = brute_force_topk(
        trunc_corpus, trunc_queries, id_col=id_col, vec_col=vec_col, k=k,
        round_digits=round_digits, dim=dims,
    ).select("query_id", F.col("neighbor_id").alias("_tn"))
    overlap = (
        full.join(
            trunc,
            (full["query_id"] == trunc["query_id"])
            & (full["neighbor_id"] == trunc["_tn"]),
        )
        .groupBy(full["query_id"].alias("query_id"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    base = full.select("query_id").distinct()
    return base.join(overlap, "query_id", "left").select(
        "query_id",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        # exact integer-arithmetic recall: n/k is an exact rational and
        # round(double, 4) of one is the cross-engine tie class (for
        # k = 32 etc. n/k lands exactly on 4-dp boundaries)
        exact_div_round(
            F.coalesce("n_overlap", F.lit(0)), F.lit(k), out_scale=4
        ).alias("recall"),
    )


def margin_bitext_topk(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_margin: int = 4,
    round_digits: int = 4,
    ann_planes: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 §3.2,
    the "ratio" margin): for every query vector in ``corpus_a``, the
    best match in ``corpus_b`` scored by

        margin(x, y) = cos(x, y) / ((deg_k(x) + deg_k(y)) / 2)

    where ``deg_k(v)`` is the mean cosine of ``v``'s ``k_margin``
    nearest neighbours in the OTHER corpus. Dividing by the local
    neighbourhood density cancels hubness — a vector that is "close
    to everything" stops winning every pairing — which is what makes
    margin scoring the standard mining objective for parallel-corpus
    construction (LASER/CCMatrix lineage).

    Exactness discipline: cosines are rounded to ``round_digits`` and
    cast to DECIMAL before the degree sums, so deg is an exact
    decimal sum / k — partition order cannot flip the final margin
    rounding (the Heaps-law lesson). The scored pair table feeds
    THREE consumers (both degree legs + the final margin join), so it
    is persisted and attached for release_staging — the
    multi-consumer staging discipline.

    Scale shape: ``ann_planes=None`` is the exact (brute-force)
    formulation — the query side broadcasts, the corpus side streams,
    like brute_force_topk. ``ann_planes=p`` is the 100 TB path:
    candidates come from a deterministic SRP bucket EQUI-join (no
    cross join anywhere) and degrees are computed over the candidate
    lists — the standard ANN approximation of the margin, with
    defined (not random) results because the buckets are
    deterministic. Queries whose bucket holds no targets are absent
    from the output, same as any bucketed ANN in this module.
    """
    from pipelines_spark.llm.dedup import _attach_staging

    bucket = (
        (lambda v: srp_bucket_key(v, dim, ann_planes))
        if ann_planes is not None
        else None
    )
    a = corpus_a.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm_col(vec_col, dim).alias("_qn"),
        *([bucket(vec_col).alias("_bucket")] if bucket else []),
    )
    b = corpus_b.select(
        F.col(id_col).alias("target_id"),
        F.col(vec_col).alias("_tv"),
        _norm_col(vec_col, dim).alias("_tn"),
        *([bucket(vec_col).alias("_bucket")] if bucket else []),
    )
    cand = (
        b.join(F.broadcast(a), "_bucket") if bucket else b.crossJoin(F.broadcast(a))
    )
    pairs = (
        cand.select(
            "query_id",
            "target_id",
            F.round(
                _pair_cosine("_tv", "_qv", "_tn", "_qn", dim),
                round_digits,
            )
            .cast("decimal(10,4)")
            .alias("cos"),
        )
        .persist()
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("target_id"))
    wt = Window.partitionBy("target_id").orderBy(F.desc("cos"), F.asc("query_id"))
    deg_q = (
        pairs.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k_margin)
        .groupBy("query_id")
        .agg((F.sum("cos") / F.lit(float(k_margin))).alias("_deg_q"))
    )
    deg_t = (
        pairs.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= k_margin)
        .groupBy("target_id")
        .agg((F.sum("cos") / F.lit(float(k_margin))).alias("_deg_t"))
    )
    marg = (
        pairs.join(deg_q, "query_id")
        .join(deg_t, "target_id")
        .select(
            "query_id",
            "target_id",
            "cos",
            F.round(
                F.col("cos") / ((F.col("_deg_q") + F.col("_deg_t")) / F.lit(2.0)),
                round_digits,
            ).alias("margin"),
        )
    )
    wm = Window.partitionBy("query_id").orderBy(F.desc("margin"), F.asc("target_id"))
    best = (
        marg.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("target_id").alias("match_id"),
            F.col("cos").cast("double").alias("cosine"),
            "margin",
        )
    )
    return _attach_staging(best, (pairs,))
