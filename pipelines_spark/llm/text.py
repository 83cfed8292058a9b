"""Text analysis: language-ID, quality scoring, token counting,
document fingerprinting.

All pure column expressions (split / regexp / higher-order array
functions) — map-only, no shuffle, codegen'd; exactly what you want
streaming 100 TB of documents through a filter stage.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pipelines_spark.functions.exact import exact_div_round

#: Tiny per-language stopword lists for the n-gram/stopword heuristic
#: language identifier. Deliberately small: the operator contract is a
#: deterministic scoring rule, swappable for real lists.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "for", "on"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "por", "los"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "une", "pour", "les"),
    "de": ("der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "nicht"),
    "pt": ("o", "a", "de", "e", "que", "em", "um", "uma", "para", "os"),
}

#: BPE-ish word/number/punctuation splitter for token counting.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(t, " ")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty text → 0)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(tokens(t)))


def regex_token_count(text: Column | str) -> Column:
    """BPE-ish token count: letter runs, digit runs, single punct."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), 0))


def _stopword_hits(text: Column | str, lang: str) -> Column:
    """Number of whitespace tokens equal (case-folded) to a stopword
    of ``lang`` — as ONE regex pass over the lowercased text instead
    of an interpreted ``filter`` closure per token (r12 guide §1.2:
    the 5-language scorer evaluated ~5·n_tokens lambda closures per
    document; this is the gates' dominant per-row cost). Exact
    equivalence with ``size(filter(split(t,' '), w ->
    array_contains(sw, lower(w))))``: a match must be delimited by
    single-space boundaries (or start/end), which is precisely
    "whitespace token equals stopword" under ``split(t, ' ')`` —
    tokens carrying any other character (punctuation, tabs,
    newlines, multi-space empties) fail both formulations; regex
    alternation backtracks through the lookahead, so prefix-shadowed
    alternatives ("a" before "and") still match correctly."""
    t = F.col(text) if isinstance(text, str) else text
    pat = "(?:^| )(" + "|".join(STOPWORDS[lang]) + ")(?= |$)"
    return F.size(F.regexp_extract_all(F.lower(t), F.lit(pat), 1))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    toks = tokens(text)
    hits = _stopword_hits(text, lang)
    return hits / F.greatest(F.size(toks), F.lit(1)).cast("double")


def language_id(text: Column | str) -> Column:
    """Deterministic stopword-ratio argmax over the known languages;
    'und' (undetermined) when no stopword hits at all. Ties break
    toward the lexicographically LARGER language code (struct
    comparison is field-order: max score, then max lang) — the oracle
    mirrors the same descending tie-break."""
    scores = [
        F.struct(stopword_ratio(text, code).alias("score"), F.lit(code).alias("lang"))
        for code in sorted(STOPWORDS)
    ]
    # array_max on structs compares fields in order: max score, then
    # max (descending tie-break) lang code.
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def _total_token_chars(text: Column | str) -> Column:
    """Σ length(token) over ``split(t, ' ')`` — closed form: every
    non-space character belongs to exactly one token (empty tokens
    from space runs contribute 0), so the sum is simply the length of
    the text with spaces removed. Replaces an interpreted per-token
    ``aggregate`` fold with one codegen'd ``translate`` (r12)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.length(F.translate(t, " ", ""))


def mean_word_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = _total_token_chars(text)
    return total / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column | str, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: length band + stopword
    presence + word-shape sanity − punctuation noise. A deterministic
    stand-in for a trained quality classifier, with the same plan
    shape (map-only scoring feeding a filter).

    Engine-exact arithmetic: every term is a rational of integer
    counts, so the 4-dp score is computed as round-half-up of the
    EXACT rational (×10⁴, integer numerator over W·C) instead of
    ``round(double, 4)`` — the double form ties at *.5e-4 boundaries
    where Spark (BigDecimal HALF_UP on the exact binary) and DuckDB
    (scaled multiply) disagree; first observed on one sf0.1 document
    (docs/PARITY_SF01.md). Non-tie scores are bit-identical to the
    old form: the IEEE sum error (~1e-16) cannot cross a boundary
    gap, which is at least 1/(2·W·C) ≈ 1e-8 when not exactly zero.
    The numerator and the final floor division run in DECIMAL(38,0)
    (modular exact division, the exact.py pattern) — n_num ≈ 7000·W·C
    exceeds 2^53 for ~3 MB documents and 2^63 for ~100 MB ones, so
    neither a double floor nor 64-bit longs have the headroom; the
    DuckDB twin (oracles._Q_NUM) runs the same products in HUGEINT."""
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(t)
    w_cnt = F.greatest(F.size(toks), F.lit(1)).cast("long")
    # regex stopword count + closed-form token-char sum (r12): same
    # integers as the filter/aggregate folds, no per-token closures
    s_cnt = _stopword_hits(t, lang).cast("long")
    tw = _total_token_chars(t).cast("long")
    ln = F.length(t).cast("long")
    c_cnt = F.greatest(ln, F.lit(1))
    p_cnt = F.length(F.regexp_replace(t, "[A-Za-z0-9\\s]", "")).cast("long")
    # ×10⁴ terms: 0.3·min(L/500,1) → 6·min(L,500); shape → 2000/600;
    # punct baseline 2000 − min(10000P, 2000C)/C; stop min(9000S,3000W)/W
    shape4 = F.when(
        (tw >= 3 * w_cnt) & (tw <= 8 * w_cnt), F.lit(2000)
    ).otherwise(F.lit(600))
    wd = w_cnt.cast("decimal(19,0)")
    cd = c_cnt.cast("decimal(19,0)")
    a_num = F.least(F.lit(9000) * s_cnt, F.lit(3000) * w_cnt).cast(
        "decimal(19,0)"
    )
    b_num = F.least(F.lit(10000) * p_cnt, F.lit(2000) * c_cnt).cast(
        "decimal(19,0)"
    )
    n_num = (
        (F.lit(6) * F.least(ln, F.lit(500)) + shape4 + F.lit(2000)).cast(
            "decimal(19,0)"
        )
        * wd
        * cd
        + a_num * cd
        - b_num * wd
    )
    d_den = wd * cd
    # floor((2n+d)/(2d)) by exact modular division (n_num > 0 always:
    # the length/shape/base terms contribute >= 2600·W·C and the
    # punctuation penalty subtracts at most 2000·W·C)
    x = n_num * 2 + d_den
    y = d_den * 2
    q = ((x - x % y) / y).cast("long")
    return q / F.lit(10000.0)


def linear_classifier_score(
    text: Column | str, *, buckets: int = 64, bias: float = 0.2
) -> Column:
    """Hashed-feature linear-classifier score (fastText-shape gate),
    entirely MAP-SIDE: distinct unigrams → md5 bucket in [0, buckets)
    (the module's cross-engine hash convention, sampling.hash_bucket)
    → fixed tenth-grain weights ((bucket % 21 − 10)/10, integer sums
    exact in any order) → sigmoid, rounded to 6. One JVM HOF over the
    words array — no explode, no shuffle: the 1000-executor shape of
    queries.text_quality_linear's identical arithmetic. Local caveat
    (tested equal in tests/test_llm_ops.py): HOF lambdas evaluate
    interpreted per element, so on one box the codegen'd explode +
    hash-aggregate formulation (which curation's classifier gate
    uses) runs ~5× faster — the minhash tradeoff again."""
    t = F.col(text) if isinstance(text, str) else text
    feats = F.array_distinct(F.split(t, " "))
    sumw = F.aggregate(
        F.transform(
            feats,
            lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
            % buckets
            % 21
            - 10,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    z = F.lit(bias) + (sumw / F.lit(10.0)) / F.size(feats)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def document_fingerprint(text: Column | str, gram_chars: int = 8) -> Column:
    """Rolling fingerprint: lexicographic min of md5 over all
    ``gram_chars``-character windows (winnowing with window = whole
    doc). md5 keeps it reproducible in any engine; docs shorter than
    one gram hash their full text."""
    t = F.col(text) if isinstance(text, str) else text
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (gram_chars - 1), F.lit(1))),
        lambda i: F.md5(F.substring(t, i, F.lit(gram_chars))),
    )
    return F.array_min(grams)


#: PII patterns, applied in declaration order. Regex syntax is kept in
#: the portable intersection of Java regex (Spark) and RE2 (DuckDB,
#: Go/Rust scanners) so the scrub is reproducible outside the engine.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\d{3}[-.]\\d{3,4}[-.]\\d{4}", "<PHONE>"),
    ("ipv4", "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "<IP>"),
)


def pii_counts(text: Column | str) -> Column:
    """Struct of per-pattern match counts — the detection side of the
    scrub, usable as a filter ("drop docs with >k PII hits") without
    rewriting the text. Map-only."""
    t = F.col(text) if isinstance(text, str) else text
    return F.struct(
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS
        ]
    )


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with its placeholder, patterns applied
    in ``PII_PATTERNS`` order (email before IPv4 so a host-with-dots
    local part is consumed as an email first). Map-only, codegen'd —
    the standard pre-training scrub stage."""
    t = F.col(text) if isinstance(text, str) else text
    out = t
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def word_bigrams(text: Column | str) -> Column:
    """Adjacent word pairs ("w1 w2") of a single-space-tokenized text;
    fewer than 2 words → empty array (sequence(1,0) would count down)."""
    t = F.col(text) if isinstance(text, str) else text
    ws = F.split(t, " ")
    return F.when(F.size(ws) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
        )
    )


def dup_word_ratio(text: Column | str) -> Column:
    """1 − distinct/total words: the Gopher-class repetition signal —
    high values mark loops/boilerplate. Map-only."""
    t = F.col(text) if isinstance(text, str) else text
    ws = F.split(t, " ")
    return F.lit(1.0) - F.size(F.array_distinct(ws)) / F.size(ws).cast("double")


def lm_tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens with empties dropped — the
    tokenization contract shared by the n-gram LM operators and their
    oracles (double spaces must not mint '' vocabulary entries)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), " "), lambda w: w != "")


def ngram_cross_entropy(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """CCNet-style n-gram language-model quality scoring: train an
    add-one-smoothed bigram LM on the corpus itself, then score every
    document by its per-bigram cross-entropy (bits). Low-entropy docs
    read like the corpus; high-entropy docs are noise/outliers —
    thresholding this column is the classic perplexity filter used to
    curate web-scale pre-training data (cf. CCNet, Wenzek et al. 2020).

    Model: P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V) with c(·) corpus
    occurrence counts and V the corpus vocabulary size. Per-bigram
    log2-probabilities are rounded to 4 dp and summed as DECIMAL so
    the per-doc total is summation-order-independent (bit-identical
    across partitionings and engines); the final bits-per-bigram is a
    single deterministic double division.

    Scale shape: token/bigram explode is map-side; counts are two
    hash aggregations on (token)/(bigram); scoring joins each doc
    bigram to the two count tables (shuffle joins on high-cardinality
    keys — fine, linear) and re-aggregates on the doc id. V and the
    training tables come from the same corpus pass; no driver state.
    Docs with fewer than 2 tokens have no bigrams and are excluded.
    Returns (id_col, n_bigrams, h_bits)."""
    toks = docs.select(F.col(id_col), lm_tokens(text_col).alias("w"))
    uni = toks.select(F.explode("w").alias("tok"))
    unic = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    vocab = unic.agg(F.count(F.lit(1)).alias("v"))
    bg = toks.filter(F.size("w") >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("w"), i).alias("w1"),
                    F.concat_ws(
                        " ",
                        F.element_at(F.col("w"), i),
                        F.element_at(F.col("w"), i + 1),
                    ).alias("bg"),
                ),
            )
        ).alias("p"),
    ).select(id_col, "p.w1", "p.bg")
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bg.join(bgc, "bg")
        .join(unic.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp",
            F.round(
                F.log2((F.col("cb") + F.lit(1)) / (F.col("cu") + F.col("v"))), 4
            ).cast("decimal(18,4)"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp").alias("_slp"),
        )
        .select(
            id_col,
            "n_bigrams",
            # engine-exact 4-dp mean: the summed logp is a 4-decimal
            # DECIMAL, so -S/n is an exact rational that can land ON a
            # *.5e-4 boundary (sf0.1 doc 370: 58.5066/12 = 4.87555),
            # where round(double) splits across engines — round
            # half-up via integer floor((2·S4+n)/(2n)) instead
            (
                F.floor(
                    (
                        F.lit(2) * (-F.col("_slp") * 10000).cast("long")
                        + F.col("n_bigrams")
                    )
                    / (F.lit(2) * F.col("n_bigrams"))
                )
                / F.lit(10000.0)
            ).alias("h_bits"),
        )
    )


def duplicate_spans(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 8,
):
    """Exact duplicate-substring detection (the span-level dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): every ``window_words``-word window is hashed;
    windows whose hash occurs more than once in the corpus (another
    doc OR another position) are duplicates, and overlapping duplicate
    windows merge into maximal spans via a gaps-and-islands pass.

    Scale shape: the window explode is linear in corpus tokens
    (map-side); duplicate hashes come from one hash aggregation with
    a count>1 filter (the output is only the *repeated* window set);
    marking is a shuffle join on the hash; island-merging is one
    window-function pass partitioned by doc. No pairwise stage exists
    — cost is O(tokens) + two shuffles regardless of how many docs
    share a span.

    Returns per-doc summaries (id_col, n_words, n_dup_spans,
    dup_words, dup_frac) for ALL docs (zero rows for clean ones),
    where dup_words counts word positions covered by ≥1 duplicate
    window and dup_frac = dup_words / n_words rounded to 4 dp."""
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), lm_tokens(text_col).alias("w"))
    sizes = toks.select(id_col, F.size("w").cast("long").alias("n_words"))
    win = toks.filter(F.size("w") >= window_words).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (window_words - 1)),
                lambda i: F.struct(
                    i.alias("start"),
                    F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, window_words))).alias(
                        "h"
                    ),
                ),
            )
        ).alias("p"),
    ).select(id_col, "p.start", "p.h")
    dup_h = win.groupBy("h").agg(F.count(F.lit(1)).alias("occ")).filter(
        F.col("occ") > 1
    )
    marked = win.join(dup_h.select("h"), "h").select(
        id_col, "start", (F.col("start") + (window_words - 1)).alias("end")
    )
    order = Window.partitionBy(id_col).orderBy("start")
    prev_max = (
        F.max("end").over(order.rowsBetween(Window.unboundedPreceding, -1))
    )
    islands = marked.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("start") > prev_max + 1), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy(id_col, "island").agg(
        F.min("start").alias("s"), F.max("end").alias("e")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_words"),
    )
    return (
        sizes.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_words", F.lit(0)).cast("long").alias("dup_words"),
            # exact integer-arithmetic ratio (cross-engine tie class)
            exact_div_round(
                F.coalesce("dup_words", F.lit(0)),
                F.greatest(F.col("n_words"), F.lit(1)),
                out_scale=4,
            ).alias("dup_frac"),
        )
    )


def doc_shingles(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
):
    """(id_col, sh) exploded distinct-shingle postings — the shared
    input of the boilerplate operators; persist it when feeding both."""
    from pipelines_spark.llm.dedup import word_shingles

    return docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_words)).alias("sh")
    )


def boilerplate_shingles(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    max_doc_frac: float = 0.05,
    shingles=None,
):
    """Corpus-frequency boilerplate detection (the C4-style "line
    occurring in many pages" rule, expressed over word shingles since
    the engine's text unit is the document): shingles present in more
    than ``max_doc_frac`` of all documents are boilerplate
    (navigation chrome, license blurbs, templates).

    Scale shape: one explode + one groupBy on the shingle (the same
    inverted index the dedup family builds); the threshold compares
    against a 1-row corpus count joined in lazily (no driver action).
    The result set is small by construction — at most
    total_memberships / (max_doc_frac · n_docs) shingles — so
    downstream consumers broadcast it like a stop-list.
    """
    sh = shingles if shingles is not None else doc_shingles(
        docs, id_col=id_col, text_col=text_col, shingle_words=shingle_words
    )
    total = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    return (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("doc_freq"))  # shingles distinct per doc
        .crossJoin(F.broadcast(total))
        .filter(F.col("doc_freq") > F.col("_n_docs") * F.lit(max_doc_frac))
        .select("sh", "doc_freq")
    )


def boilerplate_ratio(
    docs,
    bp,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    shingles=None,
):
    """Per-document fraction of shingles that are boilerplate:
    (id_col, n_shingles, n_boilerplate, boilerplate_ratio). The
    boilerplate set broadcasts (stop-list-sized); the corpus side is
    explode → broadcast semi-ish join → re-aggregate on the id — one
    shuffle on the doc id, never a corpus self-join.

    Pass the SAME (ideally persisted) ``shingles`` frame given to
    ``boilerplate_shingles`` so the corpus is tokenized once, not
    twice — the shingle explode is the dominant cost at scale."""
    sh = shingles if shingles is not None else doc_shingles(
        docs, id_col=id_col, text_col=text_col, shingle_words=shingle_words
    )
    hits = sh.join(
        F.broadcast(bp.select("sh").withColumn("_bp", F.lit(1))), "sh", "left"
    )
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_bp"), F.lit(0))).cast("long").alias("n_boilerplate"),
        # exact integer-arithmetic ratio (round(double, 4) of an exact
        # rational is the cross-engine tie class — PARITY_SF01.md)
        exact_div_round(
            F.sum(F.coalesce(F.col("_bp"), F.lit(0))),
            F.count(F.lit(1)),
            out_scale=4,
        ).alias("boilerplate_ratio"),
    )
