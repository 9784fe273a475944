"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All JVM-side Column expressions (no UDFs): these run over every
document of a 100 TB corpus, so they must stay inside whole-stage
codegen and be cheap enough to fuse with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.pipeline.dedup import ensure_parallelism, tokens_col

# Minimal stopword profiles for the corpus languages (en/de/fr/es + CJK
# detection for zh). Tiny on purpose: the operator shape (per-language
# token-overlap scoring + script detection) is what scales; richer
# profiles are swappable constants.
_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que", "de", "por"],
}


def lang_id_col(text: Column | str) -> Column:
    """Heuristic language id: CJK char ratio → zh; else the language
    whose stopword profile overlaps the token set most; ties/no-hits →
    'und' (undetermined)."""
    text = F.col(text) if isinstance(text, str) else text
    toks = F.array_distinct(tokens_col(text))
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))))
        for lang, words in _STOPWORDS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    for lang, score in reversed(scores):  # earlier langs win ties
        result = F.when(score == best_score, F.lit(lang)).otherwise(result)
    result = F.when(best_score <= 0, F.lit("und")).otherwise(result)
    return F.when(cjk * 2 > F.length(text), F.lit("zh")).otherwise(result)


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc quality signals: lengths, token stats, punctuation /
    digit / uppercase ratios, stopword ratio, repetition ratio.
    Regex-heavy: see analyze_documents on the parallelism guard."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    t = F.col(text_col)
    toks = tokens_col(t)
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    n_chars = F.length(t)
    en_stop = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    r6 = lambda c: F.round(c, 6)
    nz = lambda num, den: F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        r6(nz(n_unique, n_tokens)).alias("unique_ratio"),
        r6(nz(n_chars, n_tokens)).alias("mean_token_len"),
        r6(nz(F.length(F.regexp_replace(t, r"[^\p{Punct}]", "")), n_chars)).alias(
            "punct_ratio"
        ),
        r6(nz(F.length(F.regexp_replace(t, r"[^0-9]", "")), n_chars)).alias(
            "digit_ratio"
        ),
        r6(nz(F.length(F.regexp_replace(t, r"[^A-Z]", "")), n_chars)).alias(
            "upper_ratio"
        ),
        r6(nz(F.size(F.array_intersect(F.array_distinct(toks), en_stop)), F.least(n_unique, F.lit(10)))).alias(
            "stopword_hit_ratio"
        ),
    )


def quality_score_col(text: Column | str) -> Column:
    """Scalar [0,1] quality score: penalize too-short/too-long docs,
    low token diversity, punctuation soup. Weights are heuristic; the
    operator shape (pure Column expr, scan-fused) is the deliverable."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    diversity = F.when(
        n_tokens > 0, F.size(F.array_distinct(toks)).cast("double") / n_tokens
    ).otherwise(F.lit(0.0))
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), 1.0).otherwise(0.3)
    punct = F.when(
        F.length(text) > 0,
        F.length(F.regexp_replace(text, r"[^\p{Punct}]", "")).cast("double")
        / F.length(text),
    ).otherwise(F.lit(1.0))
    punct_ok = F.when(punct < 0.2, 1.0).otherwise(0.5)
    return F.round(
        F.least(F.lit(1.0), diversity * 0.5 + length_ok * 0.3 + punct_ok * 0.2), 6
    )


def token_count_col(text: Column | str, mode: str = "whitespace") -> Column:
    """Token counting: 'whitespace' split, or 'bpe_ish' — a regex that
    splits words, digits runs, and punctuation separately (a cheap
    stand-in for BPE pre-tokenization)."""
    text = F.col(text) if isinstance(text, str) else text
    if mode == "whitespace":
        return F.size(F.split(F.trim(text), r"\s+")).cast("bigint")
    if mode == "bpe_ish":
        # GPT-2-style pre-tokenizer shape: word / number / punct runs
        pattern = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
        return F.size(
            F.regexp_extract_all(text, F.lit(pattern), F.lit(0))
        ).cast("bigint")
    raise ValueError(f"Unknown token mode {mode!r}")


def fingerprint_col(text: Column | str, algo: str = "md5") -> Column:
    """Content fingerprint over normalized text (lower+trim+squeeze
    whitespace). md5/sha2 for cross-engine stability, xxhash64 for
    cheap 64-bit keys."""
    text = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    if algo == "md5":
        return F.md5(norm)
    if algo == "sha256":
        return F.sha2(norm, 256)
    if algo == "xxhash64":
        return F.xxhash64(norm)
    raise ValueError(f"Unknown fingerprint algo {algo!r}")


def analyze_documents(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-pass combined text-analysis projection (all columns fuse
    into a single scan → no extra jobs). Regex-heavy per-row compute:
    spread a narrow input (single-row-group file → ONE scan task)
    across cores first — no-op when the source is already wide."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    return df.select(
        F.col(id_col),
        lang_id_col(F.col(text_col)).alias("lang_pred"),
        token_count_col(F.col(text_col)).alias("n_tokens"),
        token_count_col(F.col(text_col), "bpe_ish").alias("n_tokens_bpe"),
        quality_score_col(F.col(text_col)).alias("quality"),
        fingerprint_col(F.col(text_col)).alias("fp"),
    )


def boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_df: int = 5,
    hash_shingles: bool = True,
) -> DataFrame:
    """Corpus-wide boilerplate profile: per document, the fraction of
    its distinct word n-grams whose document frequency across the WHOLE
    corpus is ≥ ``min_df`` — the signal behind boilerplate / template
    filtering in web-corpus curation (headers, footers, nav chrome
    repeat across many pages; prose does not).

    → (doc_id, n_shingles, n_boilerplate, boilerplate_ratio).

    Scale shape — the exploded (doc, shingle-hash) stream is shuffled
    exactly ONCE, on the shingle key: document frequency is a COUNT
    window over that partitioning (shingles are distinct per doc, so
    the partition size IS the DF) — no separate aggregate + self-join,
    which would shuffle the exploded stream twice (measured: Spark does
    not reuse the exchange across an agg and a join branch of the same
    child). Only the final per-doc agg reshuffles, and by then rows are
    just (doc_id, flag). With ``hash_shingles`` each shingle travels as
    an 8-byte xxhash64, not the string.
    """
    from pyspark.sql import Window

    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        shingles_col,
    )

    g = F.explode(shingles_col(F.col(text_col), shingle_n)).alias("_g")
    ex = ensure_parallelism(df).select(F.col(id_col).alias("doc_id"), g)
    if hash_shingles:
        ex = ex.withColumn("_g", F.xxhash64("_g"))
    annotated = ex.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("_g"))
    )
    return (
        annotated.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_df") >= min_df, 1).otherwise(0)).alias(
                "n_boilerplate"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boilerplate",
            F.round(
                F.col("n_boilerplate") / F.col("n_shingles"), 6
            ).alias("boilerplate_ratio"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping fixed-token windows — the
    embedding/pretraining chunker (a doc too long for the model's
    context becomes ceil((n-c)/(c-o))+1 windows with ``overlap`` tokens
    of context carried across the seam).

    → (doc_id, chunk_idx, chunk_text, chunk_n_tokens). All JVM array
    algebra on the token array (split → sequence of window starts →
    slice per window → one explode); no Python, no shuffle — a pure
    per-row expansion that pipelines inside the scan stage, so chunking
    a 100 TB corpus is map-only work.
    """
    assert 0 <= overlap < chunk_tokens
    step = chunk_tokens - overlap
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    n_chunks = (
        F.floor(
            (F.greatest(n - F.lit(chunk_tokens), F.lit(0)) + F.lit(step - 1))
            / F.lit(step)
        ).cast("int")
        + F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("int").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(toks, k * step + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - k * step).alias(
                "chunk_n_tokens"
            ),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(chunks).alias("_c")
    ).select(
        id_col,
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.chunk_n_tokens").alias("chunk_n_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF (sklearn-style
    ``tf * (ln((1+N)/(1+df)) + 1)``) — keyword extraction / salient-term
    profiling for corpus exploration and topic labeling.

    → (doc_id, term, tf, tfidf). Scale shape: term frequency is one
    (doc, term) aggregation; document frequency is a COUNT window over
    the term partitioning of that SAME aggregate (partition size = df —
    no separate aggregate + join, the boilerplate_stats trick); top-k
    is a row_number window per doc. Ordering ties break on the ROUNDED
    score then term, so ranking is engine-portable (a raw float
    ordering would be at the mercy of libm's last ulp).
    """
    from pyspark.sql import Window

    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    if n_docs is None:
        n_docs = df.count()
    tf = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_col(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    idf = F.log(F.lit(float(1 + n_docs)) / (dfreq + F.lit(1))) + F.lit(1.0)
    scored = tf.withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("tfidf").desc(), F.col("term").asc()
        )
    )
    return (
        scored.withColumn("_rn", rn)
        .filter(F.col("_rn") <= k)
        .select("doc_id", "term", "tf", "tfidf")
    )


def bm25_corpus_stats(
    df: DataFrame, text_col: str = "text"
) -> tuple[int, float]:
    """The two BM25 corpus constants ``(n_docs, avgdl)`` in one
    aggregate scan — index-build-time artifacts in a deployment (they
    change only when the corpus does). all-NULL text: avg over zero
    non-null rows is NULL; no token row survives downstream anyway, so
    any finite placeholder is safe."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import tokens_col

    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(tokens_col(F.col(text_col)))).alias("a"),
    ).collect()[0]
    return stats["n"], (stats["a"] if stats["a"] is not None else 1.0)


def bm25_corpus_totals(
    df: DataFrame, text_col: str = "text"
) -> tuple[int, int, int]:
    """The EXACT integer running totals behind :func:`bm25_corpus_stats`
    — ``(n_docs, total_dl, n_text_docs)`` — for INCREMENTAL index
    maintenance: totals of disjoint ingest batches merge by addition
    (:func:`bm25_merge_totals`) and :func:`bm25_stats_from_totals`
    reproduces the one-shot ``(n_docs, avgdl)`` bit-identically
    (Spark's avg over a bigint column is exactly sum/count in one
    double division — the same IEEE op the derivation performs). At
    100 TB this triple lives in the index sidecar's meta and advances
    per batch; the corpus is never re-aggregated."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import tokens_col

    dl = F.size(tokens_col(F.col(text_col)))
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(dl.cast("bigint")).alias("t"),
        F.count(dl).alias("m"),
    ).collect()[0]
    return int(row["n"]), int(row["t"] or 0), int(row["m"])


def bm25_merge_totals(
    a: tuple[int, int, int], b: tuple[int, int, int]
) -> tuple[int, int, int]:
    """Merge two batches' exact corpus totals (disjoint doc sets)."""
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2])


def bm25_stats_from_totals(
    totals: tuple[int, int, int]
) -> tuple[int, float]:
    """``(n_docs, avgdl)`` from exact totals — bit-identical to
    :func:`bm25_corpus_stats` on the concatenated corpus."""
    n, total, m = totals
    return n, (float(total) / float(m)) if m else 1.0


def bm25_tf_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The full-vocabulary per-(doc, term) term-frequency table —
    BM25's INVERTED INDEX, the offline build artifact every lexical
    search engine materializes once and serves many times. One
    partial-aggregated shuffle of (doc, term) rows; at 100 TB this is
    a written table bucketed by ``term`` so a query's term filter
    prunes at the layout. → (doc_id, dl, term, tf)."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    toks = tokens_col(F.col(text_col))
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _bm25_score_tf(
    tf: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
    dfreq_col: Column | None = None,
) -> DataFrame:
    """Okapi BM25 scoring over a per-(doc, term) TF stream already
    restricted to the query terms: document frequency is a COUNT
    window over the TF rows (or the caller's precomputed ``dfreq_col``
    — same integers, same JVM double algebra), the per-doc sum + top-k
    is one aggregation plus TakeOrderedAndProject. Shared verbatim by
    the one-shot ``bm25_search`` and the index-serving
    ``bm25_search_indexed`` so the two paths are bit-identical."""
    from pyspark.sql import Window

    dfreq = (
        dfreq_col
        if dfreq_col is not None
        else F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (F.lit(k1) + 1)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
    )
    return (
        tf.withColumn("_s", idf * tf_part)
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_search_indexed(
    tf_index: DataFrame,
    query_terms: list[str],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    lexicon: dict[str, int] | None = None,
) -> DataFrame:
    """BM25 serving from a prebuilt ``bm25_tf_index`` + corpus
    constants: ONE job — term-filter the index (an in-memory/bucketed
    scan, never a re-tokenization of the corpus), aggregate, top-k.
    Bit-identical to ``bm25_search`` on the same corpus: the filtered
    index holds exactly the (doc, dl, term, tf) rows the one-shot
    path's filtered explode produces.

    Pass ``lexicon`` (term → document frequency, the index's
    DICTIONARY component — every inverted index stores it next to the
    posting lists) and the document-frequency WINDOW disappears too:
    the query terms' df values embed as a literal map, the idf math
    stays JVM Column algebra on the identical doubles, and the whole
    serving plan is filter → one partial-agged doc aggregate → top-k —
    a single exchange."""
    if n_docs == 0:
        return (
            tf_index.select("doc_id")
            .withColumn("score", F.lit(0.0))
            .limit(0)
        )
    terms = [str(q) for q in query_terms]
    tf = tf_index.filter(F.col("term").isin(terms))
    dfreq_col = None
    if lexicon is not None:
        dmap = F.create_map(
            *[
                F.lit(x)
                for t in sorted(set(terms))
                for x in (t, float(lexicon.get(t, 0)))
            ]
        )
        dfreq_col = F.try_element_at(dmap, F.col("term"))
    return _bm25_score_tf(tf, n_docs, avgdl, k, k1, b, dfreq_col)


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval: score every document against a bag of
    query terms, return the top-``k`` — the classic lexical-search
    ranking (and the retrieval twin of ``tfidf_top_terms``).

    → (doc_id, score). Scale shape: the term filter is applied DURING
    the explode (only query-term tokens survive — for a handful of
    terms that's a ~|query|/|vocab| row reduction before any shuffle),
    document frequency is again a COUNT window over the per-(doc,term)
    TF aggregate, and the final per-doc sum + top-k is one aggregation
    plus TakeOrderedAndProject. Corpus stats (N, avgdl) are two cheap
    driver-side aggregates — index-build-time constants in a real
    deployment (serve repeated queries from ``bm25_tf_index`` +
    ``bm25_search_indexed`` instead).
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    n_docs, avgdl = bm25_corpus_stats(df, text_col)
    if n_docs == 0:
        # empty corpus: short-circuit to an empty result with the
        # contract schema instead of a float(None) TypeError
        return (
            df.select(F.col(id_col).alias("doc_id"))
            .withColumn("score", F.lit(0.0))
            .limit(0)
        )
    toks = tokens_col(F.col(text_col))
    tf = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("dl"),
            F.explode(
                F.filter(
                    toks,
                    lambda t: t.isin([str(q) for q in query_terms]),
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _bm25_score_tf(tf, n_docs, avgdl, k, k1, b)


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules, Rae et al. 2021)
# ---------------------------------------------------------------------------

def _run_fold(sorted_col: str) -> Column:
    """One fold over a sorted gram array → struct(best, dups):
    best = longest equal-run length (count of the most frequent gram),
    dups = number of positions belonging to runs of length ≥ 2 (count
    of duplicated gram positions)."""
    # prev seeds as a typed NULL: x == NULL is null (never true), so the
    # first element always opens a fresh run — correct for any element
    # value, unlike a sentinel literal that a real gram could equal
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("dups"),
    )

    def step(acc, x):
        same = x == acc["prev"]
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        # on a repeat: +1 position, +1 more if it's the run's first
        # repeat (to retroactively count the run's head position)
        dups = acc["dups"] + F.when(
            same, F.when(acc["run"] == 1, F.lit(2)).otherwise(F.lit(1))
        ).otherwise(F.lit(0))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            dups.alias("dups"),
        )

    return F.aggregate(
        F.col(sorted_col),
        zero,
        step,
        lambda acc: F.struct(acc["best"].alias("best"), acc["dups"].alias("dups")),
    )


def _with_repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Staged projection chain computing the repetition metrics, with
    ``carry`` columns passed through (so a fused pipeline can keep the
    text / other scores alongside). Each stage is a separate Project so
    Catalyst's CollapseProject keeps the multi-referenced gram arrays
    staged instead of inlining them per use."""
    df = ensure_parallelism(df)
    toks = tokens_col(F.col(text_col))
    keep = [F.col(c) for c in carry]

    # n-grams via zip_with over shifted slices: TWO array slices per
    # document (not one per position) and a single zip pass. (A
    # hash-identity variant — xxhash64 chains instead of gram strings,
    # the minhash-family trade — was A/B'd value-identical and
    # perf-NEUTRAL here: the interpreted per-element lambda dispatch
    # dominates, not the string building, so the string form stays.)
    n = F.size("_w")
    bg0 = F.zip_with(
        F.slice("_w", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("_w", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tg0 = F.zip_with(
        F.slice("_bg0", 1, F.greatest(F.size("_w") - 2, F.lit(0))),
        F.slice("_w", 3, F.greatest(F.size("_w") - 2, F.lit(0))),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    return (
        df.select(F.col(id_col), *keep, toks.alias("_w"))
        .select(F.col(id_col), *keep, F.col("_w"), bg0.alias("_bg0"))
        .select(
            F.col(id_col),
            *keep,
            F.col("_w"),
            F.array_sort("_bg0").alias("_bg"),
            F.array_sort(tg0).alias("_tg"),
        )
        .select(
            F.col(id_col),
            *keep,
            F.size("_w").alias("_n"),
            F.size(F.array_distinct("_w")).alias("_nd"),
            _run_fold("_bg").alias("_bgf"),
            _run_fold("_tg").alias("_tgf"),
        )
        .select(
            F.col(id_col),
            *keep,
            F.col("_n").cast("bigint").alias("n_tokens"),
            F.round(
                F.when(
                    F.col("_n") > 0,
                    (F.col("_n") - F.col("_nd")) / F.col("_n").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_word_frac"),
            F.round(
                F.when(
                    F.col("_n") >= 2,
                    F.col("_bgf")["best"] / (F.col("_n") - 1).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_bigram_frac"),
            F.round(
                F.when(
                    F.col("_n") >= 3,
                    F.col("_tgf")["dups"] / (F.col("_n") - 2).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_trigram_frac"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition metrics used by crawl-corpus quality
    filters (the "repetition removal" family of Gopher rules):

    - ``dup_word_frac``   — fraction of word occurrences that are
      repeats of an earlier word: ``(n - n_distinct) / n``.
    - ``top_bigram_frac`` — occurrences of the single most frequent
      word-2-gram over all 2-gram positions.
    - ``dup_trigram_frac``— fraction of 3-gram positions whose gram
      occurs more than once in the document.

    All pure Column algebra over the token array: the whole operator is
    map-only and fuses with the scan — no shuffle, so at 100 TB this
    runs at scan speed. Per-document cost is O(n log n): the gram
    arrays are SORTED once and both frequency metrics become
    single-pass run-length folds over the sorted array (F.aggregate) —
    not the naive O(n·d) count-each-distinct-gram nested loop, which
    matters because higher-order functions evaluate interpreted
    (outside codegen). Short documents (< 2 or < 3 tokens) define the
    corresponding fraction as 0.0.
    """
    return _with_repetition_metrics(df, text_col, id_col)


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns are deliberately RE2-compatible (no lookaround, no backrefs):
# the same literal pattern runs in Spark (Java regex) and any RE2-based
# engine (DuckDB oracle, Go/Rust scrubbers), so detection semantics are
# portable across the pipeline and its verification oracle.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d[\d-]{7,}\d", "<PHONE>"),
}


def redact_pii_col(text: Column | str) -> Column:
    """Redact all PII_PATTERNS in order (email → ip → phone; email
    first so its digit-bearing local parts can't be half-eaten by the
    phone pattern). Spark regexp_replace is global, one JVM-side pass
    per pattern."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, token in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, token)
    return c


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII audit + redaction: match counts per class and
    the redacted text. Map-only Column algebra (regexp_extract_all /
    regexp_replace) — no shuffle, runs at scan speed over the corpus."""
    df = ensure_parallelism(df)
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{name}s")
        for name, (pat, _) in PII_PATTERNS.items()
    ]
    return df.select(
        F.col(id_col),
        *counts,
        redact_pii_col(t).alias("redacted"),
    )


class HybridServeUnavailable(Exception):
    """Raised when the driver-side hybrid serving path cannot answer
    (missing artifact file, non-finite cosine, oversized posting
    fetch, unexpected read error) — callers degrade to the distributed
    plan, never to an error."""


#: Fallback telemetry: incremented every time a serving path degrades
#: to the distributed plan, so artifact breakage is observable in
#: benches and tests (a production deployment exports this counter).
HYBRID_SERVE_FALLBACKS: dict = {"count": 0, "last_reason": None}


#: Driver-side posting-list fetch ceiling (rows). A stop-word-ish term
#: at corpus scale has millions of postings; past this the serving
#: probe refuses and the caller's DISTRIBUTED plan answers — the cap is
#: what makes the driver read bounded by design, not by luck. At
#: artifact-build time the lexicon can additionally be pruned to
#: sub-threshold-DF terms; this is the belt to that suspender.
BM25_PROBE_MAX_POSTINGS = 100_000


def bm25_probe_local(
    index_path: str,
    query_terms: list[str],
    n_docs: int,
    avgdl: float,
    lexicon: dict[str, int],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_postings: int | None = None,
) -> list[tuple[int, float]]:
    """Driver-side BM25 probe over the WRITTEN posting-list parquet
    (the ``_bm25_artifact`` disk form: term-sorted, small row groups so
    a term filter prunes on row-group stats): read the query terms'
    posting lists — the bounded fetch every lexical search engine does
    per query, sized by the terms' document frequency, not the corpus,
    and REFUSED past ``max_postings`` rows (lexicon-predicted before
    any file is touched, re-checked on the actual fetch) so a
    stop-word-ish term degrades to the distributed plan instead of
    materializing millions of rows on the driver —
    and replay the ``_bm25_score_tf`` Column algebra term-for-term in
    float64 (same literal-lexicon idf, same tf normalization, same
    ROUND(sum, 6)).  Pre-round divergence is bounded to the last ulp
    (sum order / libm-vs-JVM log), absorbed by the round-6 contract —
    the identical argument the mmr/k-center driver replications make,
    pinned by the path-equivalence test in tests/test_text.py.

    → [(doc_id, score)] sorted (score DESC, doc_id ASC), ≤ k rows."""
    import math

    from stac_fastapi_duckdb_spark.pipeline.select import _round6_repl

    if n_docs == 0:
        return []
    if max_postings is None:
        max_postings = BM25_PROBE_MAX_POSTINGS
    # the lexicon (term → document frequency) is the index dictionary:
    # each DISTINCT query term contributes exactly df postings (the
    # isin filter below returns a term's rows once however often the
    # term repeats in the query), so the fetch size is known BEFORE
    # touching the data files. Past the cap the serving path refuses —
    # the distributed plan (a filtered index scan, executor-side)
    # answers instead. No data read is wasted.
    expected = sum(
        int(lexicon.get(q, 0)) for q in {str(t) for t in query_terms}
    )
    if expected > max_postings:
        raise HybridServeUnavailable(
            f"posting lists too large for driver serving "
            f"({expected} > {max_postings} rows)"
        )
    try:
        import pyarrow.dataset as pads

        tbl = pads.dataset(index_path).to_table(
            filter=pads.field("term").isin([str(q) for q in query_terms]),
            columns=["doc_id", "dl", "term", "tf"],
        )
    except Exception as exc:  # missing/corrupt artifact → distributed
        raise HybridServeUnavailable(f"index read failed: {exc}") from exc
    if tbl.num_rows > max_postings:
        # lexicon absent/stale for a term: the read itself is the check
        raise HybridServeUnavailable(
            f"posting fetch exceeded cap ({tbl.num_rows} > {max_postings})"
        )
    # accumulate per-doc term contributions with math.fsum (exactly
    # rounded independent of posting order) rather than a running += in
    # Arrow row order — keeps the pre-round value stable so ROUND(x,6)
    # can't flip on a half-way boundary between runs/paths
    contribs: dict[int, list[float]] = {}
    for r in tbl.to_pylist():
        dfq = float(lexicon.get(r["term"], 0))
        idf = math.log(1.0 + (float(n_docs) - dfq + 0.5) / (dfq + 0.5))
        tf = float(r["tf"])
        tf_part = (tf * (k1 + 1)) / (
            tf + k1 * ((1 - b) + b * float(r["dl"]) / float(avgdl))
        )
        contribs.setdefault(r["doc_id"], []).append(idf * tf_part)
    out = [(d, _round6_repl(math.fsum(parts))) for d, parts in contribs.items()]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def fetch_vectors_local(
    path: str, ids: list[int], id_col: str = "vec_id", vec_col: str = "embedding"
) -> dict[int, list[float]]:
    """Bounded driver-side vector fetch: read the given ids' rows from
    a parquet table via pyarrow with row-group stats pruning — the
    serving-time KV/point read (at 100 TB: the vector store lookup),
    same family as ``sources.catalog.point_read``.  Bounded by
    ``len(ids)`` rows, never a scan with unbounded output."""
    try:
        import pyarrow.dataset as pads

        tbl = pads.dataset(path).to_table(
            filter=pads.field(id_col).isin(list(ids)),
            columns=[id_col, vec_col],
        )
    except Exception as exc:
        raise HybridServeUnavailable(f"vector fetch failed: {exc}") from exc
    return {
        r[id_col]: [float(x) for x in r[vec_col]] for r in tbl.to_pylist()
    }


def _hybrid_serve_local(
    spark,
    tf_index_path: str,
    embeddings_path: str,
    query_terms: list[str],
    n_docs: int,
    avgdl: float,
    lexicon: dict[str, int],
    probe_vec: list[float],
    k: int,
    n_candidates: int,
    alpha: float,
    vec_dtype,
) -> DataFrame:
    """The full hybrid retrieve-then-rerank as a SERVING-TIER answer:
    posting-list probe (bm25_probe_local) + bounded candidate-vector
    fetch + float64 rerank replaying the distributed Column algebra —
    zero Spark jobs on the query path (the index build and corpus
    stats remain the Spark jobs, once per corpus).  Raises
    HybridServeUnavailable on any read failure or non-finite cosine
    (zero-norm vector) so the caller's distributed plan stays the
    authority; equivalence of the two paths is pinned in
    tests/test_text.py."""
    import math

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from stac_fastapi_duckdb_spark.pipeline.select import _round6_repl

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("bm25", DoubleType(), True),
            StructField("cos_sim", DoubleType(), True),
            StructField("hybrid", DoubleType(), True),
        ]
    )
    from stac_fastapi_duckdb_spark.functions.localrel import local_rows_df

    cands = bm25_probe_local(
        tf_index_path, query_terms, n_docs, avgdl, lexicon, k=n_candidates
    )
    if not cands:
        return local_rows_df(spark, [], schema)
    vecs = fetch_vectors_local(embeddings_path, [d for d, _ in cands])
    # the distributed plan casts the probe literal to the embedding
    # column's element type (float32 for the bench tables) before the
    # double-widening cosine — replicate the quantization exactly
    import numpy as np

    dtype_s = str(vec_dtype).lower()
    if "float" in dtype_s and "double" not in dtype_s:
        pv = [float(np.float32(x)) for x in probe_vec]
    else:
        pv = [float(x) for x in probe_vec]
    # fsum: exactly-rounded sums regardless of element order, so the
    # pre-round cosine can't drift onto a ROUND(x,6) half-way boundary
    # between the serving and distributed paths (see ADVICE r8)
    nb = math.sqrt(math.fsum(y * y for y in pv))
    out = []
    for d, s in cands:
        v = vecs.get(d)
        if v is None:
            continue  # absent vector row: the distributed filter drops it too
        dot = math.fsum(x * y for x, y in zip(v, pv))
        na = math.fsum(x * x for x in v)
        cos = dot / (math.sqrt(na) * nb)
        if not math.isfinite(cos):
            raise HybridServeUnavailable("non-finite cosine in candidates")
        cos6 = _round6_repl(cos) + 0.0
        hyb = _round6_repl(alpha * s + cos6) + 0.0
        out.append((d, s, cos6, hyb))
    out.sort(key=lambda t: (-t[3], t[0]))
    return local_rows_df(spark, out[:k], schema)


def hybrid_search(
    docs: DataFrame | None,
    embeddings: DataFrame,
    query_terms: list[str],
    probe_id: int = 0,
    k: int = 10,
    n_candidates: int = 50,
    alpha: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int | None = None,
    tf_index: DataFrame | None = None,
    corpus_stats: tuple[int, float] | None = None,
    probe_vec: list[float] | None = None,
    lexicon: dict[str, int] | None = None,
    tf_index_path: str | None = None,
    embeddings_path: str | None = None,
) -> DataFrame:
    """Hybrid lexical+dense retrieval: BM25 candidate generation over
    the corpus, then dense cosine rerank of the candidate set against a
    probe embedding; final score = ``alpha·bm25 + cosine``. Pass the
    embedding ``dim`` when known to unroll the cosine into codegen
    (bit-identical to the HOF fold).

    Serving form: pass ``tf_index`` + ``corpus_stats`` (+ optionally
    ``lexicon``) — the ``bm25_tf_index`` / ``bm25_corpus_stats``
    artifacts, built once per corpus — AND ``probe_vec`` (the probe
    embedding, a bounded point read at request time). The BM25 stage
    never re-tokenizes the corpus (one filtered index scan, its ≤
    ``n_candidates`` rows collected — a bounded fetch) and the rerank
    is a single scan with the candidate ids+scores embedded as
    literals, so the id filter prunes cached batches/row groups.
    Bit-identical to the self-building form (same TF rows, same
    doubles — the literal bm25 scores ARE the Spark-computed ones).

    Scale shape: BM25 produces ``n_candidates`` rows (driver-small);
    that candidate set is BROADCAST into the embeddings scan, so the
    billion-vector side is filtered by a broadcast hash join (never
    shuffled), the probe vector is a broadcast single row (or a
    literal), and the rerank is ``n_candidates`` cosine evaluations +
    a TakeOrderedAndProject — the standard retrieve-then-rerank
    topology at any corpus size.
    """
    from stac_fastapi_duckdb_spark.functions import vectors as V

    if (
        tf_index_path is not None
        and embeddings_path is not None
        and probe_vec is not None
        and corpus_stats is not None
        and lexicon is not None
    ):
        # SERVING-TIER fast path: answer from the written index + a
        # bounded vector point-fetch, zero Spark jobs; any failure
        # (artifact missing, zero-norm candidate) degrades to the
        # distributed plan below — same fallback discipline as
        # operators.search.get_one_item
        try:
            return _hybrid_serve_local(
                embeddings.sparkSession,
                tf_index_path,
                embeddings_path,
                query_terms,
                corpus_stats[0],
                corpus_stats[1],
                lexicon,
                probe_vec,
                k,
                n_candidates,
                alpha,
                embeddings.schema["embedding"].dataType.elementType,
            )
        except HybridServeUnavailable as exc:
            # observable degradation: artifact breakage (bad index
            # path, corrupt file, oversized posting fetch) must not be
            # silent — the bench/tests would otherwise keep passing
            # while timings quietly change (ADVICE r8)
            import warnings

            HYBRID_SERVE_FALLBACKS["count"] += 1
            HYBRID_SERVE_FALLBACKS["last_reason"] = str(exc)
            warnings.warn(
                f"hybrid serving path unavailable ({exc}); "
                "answering from the distributed plan",
                RuntimeWarning,
                stacklevel=2,
            )

    if tf_index is not None:
        n_docs, avgdl = corpus_stats
        # serving: run candidate generation NOW (one bounded job —
        # ≤ n_candidates rows collected, same bounded-fetch pattern as
        # the ANN probe reads) and embed ids+scores as literals; the
        # rerank is then a single scan whose id filter prunes cached
        # batches / row groups instead of building a broadcast
        cand_rows = bm25_search_indexed(
            tf_index, query_terms, n_docs, avgdl, k=n_candidates,
            lexicon=lexicon,
        ).collect()
        if not cand_rows:
            empty = embeddings.select(
                F.col("vec_id").alias("doc_id"),
                F.lit(0.0).alias("bm25"),
                F.lit(0.0).alias("cos_sim"),
                F.lit(0.0).alias("hybrid"),
            )
            return empty.limit(0)
        bm_map = F.create_map(
            *[
                F.lit(x)
                for r in cand_rows
                for x in (r["doc_id"], float(r["score"]))
            ]
        )
        cand_plan = embeddings.filter(
            F.col("vec_id").isin([r["doc_id"] for r in cand_rows])
        ).select(
            F.col("vec_id").alias("doc_id"),
            F.try_element_at(bm_map, F.col("vec_id")).alias("bm25"),
            F.col("embedding"),
        )
        probed = cand_plan.withColumn(
            "probe_vec",
            F.array(*[F.lit(float(x)) for x in probe_vec]).cast(
                embeddings.schema["embedding"].dataType
            ),
        )
        return (
            probed.select(
                "doc_id",
                "bm25",
                (
                    F.round(V.cosine_similarity("embedding", "probe_vec", dim), 6)
                    + F.lit(0.0)
                ).alias("cos_sim"),
            )
            .select(
                "doc_id",
                "bm25",
                "cos_sim",
                (
                    F.round(F.lit(alpha) * F.col("bm25") + F.col("cos_sim"), 6)
                    + F.lit(0.0)
                ).alias("hybrid"),
            )
            .orderBy(F.col("hybrid").desc(), F.col("doc_id").asc())
            .limit(k)
        )
    cand = bm25_search(
        docs, query_terms, text_col=text_col, id_col=id_col, k=n_candidates
    ).select(F.col("doc_id"), F.col("score").alias("bm25"))
    if probe_vec is not None:
        probed = embeddings.withColumn(
            "probe_vec",
            F.array(*[F.lit(float(x)) for x in probe_vec]).cast(
                embeddings.schema["embedding"].dataType
            ),
        )
    else:
        probe = embeddings.filter(F.col("vec_id") == probe_id).select(
            F.col("embedding").alias("probe_vec")
        )
        probed = embeddings.crossJoin(F.broadcast(probe))
    return (
        probed.join(F.broadcast(cand), F.col("vec_id") == F.col("doc_id"))
        .select(
            "doc_id",
            "bm25",
            # + 0.0 pins IEEE zero sign on near-zero cosines
            (
                F.round(V.cosine_similarity("embedding", "probe_vec", dim), 6)
                + F.lit(0.0)
            ).alias("cos_sim"),
        )
        .select(
            "doc_id",
            "bm25",
            "cos_sim",
            (F.round(F.lit(alpha) * F.col("bm25") + F.col("cos_sim"), 6) + F.lit(0.0)).alias(
                "hybrid"
            ),
        )
        .orderBy(F.col("hybrid").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def curation_gates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str | None = "en",
    min_tokens: int = 30,
    max_dup_word_frac: float = 0.85,
    max_top_bigram_frac: float = 0.2,
    forbid_pii: bool = True,
    observation=None,
) -> DataFrame:
    """The stateless gate stage of the curation chain: score + filter,
    NO dedup. Pure map-only Column algebra over one scan, so the same
    plan runs unchanged on an unbounded STREAM (tested) — only the
    dedup stage below needs state. → one row per surviving document
    with its scores (doc_id, n_tokens, dup/bigram fracs, lang_pred,
    n_pii, fp)."""
    t = F.col("_text")
    scored = _with_repetition_metrics(
        df.select(F.col(id_col), F.col(text_col).alias("_text")),
        text_col="_text",
        id_col=id_col,
        carry=("_text",),
    ).select(
        F.col(id_col),
        "n_tokens",
        "dup_word_frac",
        "top_bigram_frac",
        lang_id_col(t).alias("lang_pred"),
        sum(
            (
                F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
                for pat, _ in PII_PATTERNS.values()
            ),
            F.lit(0),
        ).alias("n_pii"),
        fingerprint_col(t).alias("fp"),
    )

    lang_ok = F.lit(True) if lang is None else F.col("lang_pred") == lang
    long_enough = F.col("n_tokens") >= min_tokens
    not_repetitive = (F.col("dup_word_frac") <= max_dup_word_frac) & (
        F.col("top_bigram_frac") <= max_top_bigram_frac
    )
    pii_ok = F.lit(True) if not forbid_pii else F.col("n_pii") == 0
    keep = lang_ok & long_enough & not_repetitive & pii_ok

    if observation is not None:
        # stage attribution is first-gate-that-fails (waterfall order)
        scored = scored.observe(
            observation,
            F.count(F.lit(1)).alias("n_total"),
            F.sum((~lang_ok).cast("long")).alias("n_lang_fail"),
            F.sum((lang_ok & ~long_enough).cast("long")).alias("n_short"),
            F.sum((lang_ok & long_enough & ~not_repetitive).cast("long")).alias(
                "n_repetitive"
            ),
            F.sum(
                (lang_ok & long_enough & not_repetitive & ~pii_ok).cast("long")
            ).alias("n_pii"),
            F.sum(keep.cast("long")).alias("n_kept"),
        )

    return scored.filter(keep)


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str | None = "en",
    min_tokens: int = 30,
    max_dup_word_frac: float = 0.85,
    max_top_bigram_frac: float = 0.2,
    forbid_pii: bool = True,
    observation=None,
) -> DataFrame:
    """The fused corpus-curation pipeline: language gate, length gate,
    repetition gates, PII gate, then exact dedup — the standard
    pre-training filter chain, composed so the WHOLE chain is one scan.

    Scale shape: every score (lang-ID, token counts, repetition
    metrics, PII counts, fingerprint) is a Column expression in one
    staged projection chain — a 100 TB corpus is read ONCE, filtered
    in-scan, and only survivors reach the single dedup shuffle (keyed
    on the 16-byte fingerprint, so shuffle volume is survivors × ~30 B,
    not documents × text). Chaining the operators as separate
    DataFrame passes would scan the corpus five times; composing them
    as columns costs one.

    Per-stage accounting rides the SAME scan via ``df.observe``
    (conditional sums evaluated during the one pass — no second action,
    mirroring the numMatched observe fix in operators/search.py): pass
    an ``Observation`` to receive n_total / n_lang_fail / n_short /
    n_repetitive / n_pii / n_kept after the first action.

    → (doc_id, fp, n_tokens, lang_pred) — one row per kept canonical
    document (min id per identical normalized text).
    """
    kept = curation_gates(
        df,
        text_col=text_col,
        id_col=id_col,
        lang=lang,
        min_tokens=min_tokens,
        max_dup_word_frac=max_dup_word_frac,
        max_top_bigram_frac=max_top_bigram_frac,
        forbid_pii=forbid_pii,
        observation=observation,
    )
    return (
        kept.groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.min("n_tokens").alias("n_tokens"),
            F.min("lang_pred").alias("lang_pred"),
        )
        .select(id_col, "fp", "n_tokens", "lang_pred")
    )


def quality_classifier(
    df: DataFrame,
    weights: list[float] | None = None,
    bias: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality scoring: a hashed bag-of-words LINEAR
    classifier (the serving form of a fastText-style quality model, as
    used for pretraining-corpus filtering a la GPT-3/CCNet quality
    classifiers) evaluated in pure Column algebra — no Python, no
    model runtime, just the frozen weight table from
    ``plans/qc_index.py``.

    ``score = bias + mean over tokens of W[h(token) mod D]`` where
    ``h`` is the low 60 bits of md5 — engine-neutral, so the DuckDB
    oracle replays the identical arithmetic. → (doc_id, n_tokens,
    qc_score, qc_keep).

    Scale shape: map-only — one scan, one transform+fold per row over
    the token array inside whole-stage codegen; the weight table
    travels as a literal array (kilobytes). The classic trap at this
    spot is a per-token Python UDF calling a model object — 100×
    slower and unshippable; hashing-trick linearization is how the
    big-corpus quality filters actually run.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )
    from stac_fastapi_duckdb_spark.plans.qc_index import (
        QC_BIAS,
        QC_DIM,
        QC_WEIGHTS,
    )

    w = QC_WEIGHTS if weights is None else weights
    b = QC_BIAS if bias is None else bias
    dim = len(w)
    assert dim >= 1
    w_lit = F.array(*[F.lit(float(x)) for x in w])
    toks = tokens_col(F.col(text_col))
    # low 60 bits of md5 → bucket; conv() returns a decimal string,
    # 15 hex chars < 2^63 so the long cast cannot overflow
    contrib = F.transform(
        toks,
        lambda t: F.element_at(
            w_lit,
            (
                F.pmod(
                    F.conv(F.substring(F.md5(t), 18, 15), 16, 10).cast("long"),
                    F.lit(dim),
                )
                + 1
            ).cast("int"),
        ),
    )
    n = F.size(toks)
    score = F.round(
        F.lit(float(b))
        + F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x) / n,
        6,
    )
    return ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        n.cast("bigint").alias("n_tokens"),
        score.alias("qc_score"),
        (score >= 0).alias("qc_keep"),
    )


def train_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
) -> DataFrame:
    """Corpus unigram language model: → (token, logprob) over the
    ``vocab_size`` most frequent tokens, add-one smoothed, plus ONE
    extra row with ``token IS NULL`` holding the out-of-vocabulary
    logprob. The CCNet-style perplexity filter's model half (CCNet
    trains KenLM 5-grams; the unigram form keeps the same filtering
    semantics in closed form and is what the smoothing math below
    implements exactly):

        p(tok in vocab)  = (count + 1) / (total + |kept vocab| + 1)
        p(OOV)           = 1 / (total + |kept vocab| + 1)

    Scale shape: one explode + one partial-aggregated ``groupBy token``
    shuffle over the corpus; the top-``vocab_size`` cut compiles to
    TakeOrderedAndProject (count DESC, token ASC — a total order, so
    the boundary is deterministic); the two corpus scalars (total token
    count, kept-vocab size) ride broadcast 1-row aggregates. The result
    is a small artifact (≤ vocab_size+1 rows) meant to be persisted
    once and broadcast into every scoring pass.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    toks = ensure_parallelism(df).select(
        F.explode(tokens_col(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_n"))
    total = counts.agg(F.sum("_n").alias("_total"))  # ALL tokens, not just kept
    top = counts.orderBy(F.col("_n").desc(), F.col("token")).limit(vocab_size)
    kept = top.agg(F.count(F.lit(1)).alias("_vocab"))
    denom = (F.col("_total") + F.col("_vocab") + 1).cast("double")
    vocab_rows = (
        top.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(kept))
        .select(
            "token",
            F.log((F.col("_n") + 1).cast("double") / denom).alias("logprob"),
        )
    )
    oov_row = (
        total.crossJoin(F.broadcast(kept))
        .select(F.lit(None).cast("string").alias("token"), (-F.log(denom)).alias("logprob"))
    )
    return vocab_rows.unionByName(oov_row)


def perplexity_score(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score every document against a ``train_unigram_lm`` artifact:
    → (doc_id, n_tokens, avg_nll) where ``avg_nll`` is the mean
    negative log-probability per token (perplexity = e^avg_nll; the
    monotone form is returned so threshold filters compare exactly).
    High avg_nll = far from the LM's training distribution — the CCNet
    head/middle/tail quality-partition signal.

    Scale shape: explode tokens, LEFT broadcast-join the vocab
    (≤ vocab_size rows — kilobytes against a 100 TB corpus), coalesce
    misses to the broadcast OOV scalar, one partial-aggregated
    ``groupBy doc_id``. Two shuffles total across train+score; the
    scoring pass itself shuffles only the per-doc aggregate.
    ``carry_cols`` rides extra per-document columns through the
    aggregation as additional group keys (doc_id is unique, so they
    change no group) — callers that need doc metadata next to the
    score skip a whole join-shuffle against the corpus.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    oov = lm.filter(F.col("token").isNull()).select(
        F.col("logprob").alias("_oov")
    )
    vocab = lm.filter(F.col("token").isNotNull())
    tok = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in carry_cols],
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id", *carry_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.avg(-F.coalesce(F.col("logprob"), F.col("_oov"))).alias("avg_nll"),
        )
    )


def perplexity_score_lit(
    df: DataFrame,
    vocab: dict[str, float],
    oov_logprob: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``perplexity_score`` with the LM embedded as a LITERAL map —
    the serving form for a frozen, driver-resident LM artifact (CCNet
    LMs are pretrained constants; ≤ a few hundred (token, logprob)
    entries is kilobytes of plan). The whole scoring pass is then
    MAP-ONLY: a per-document sequential fold over the token array —
    no explode, no broadcast build, no shuffle at all; the plan is one
    scan at any corpus size.

    Bit-identical to ``perplexity_score(df, lm)`` over the same LM:
    the exploded form's rows for one document stay contiguous in one
    partition, so its ``F.avg`` partial accumulates them sequentially
    in array order — exactly this fold's order — and divides once at
    the end, as here. Docs whose token array is NULL produce no row in
    either form (explode of NULL yields nothing; the size filter here).
    Empty text still tokenizes to [''] (one OOV token), as there.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import tokens_col

    toks = tokens_col(F.col(text_col))
    # literal map; GetMapValue returns NULL on a miss (unlike ANSI
    # element_at) — try_element_at spells that contract explicitly
    lm_map = F.create_map(
        *[F.lit(x) for kv in sorted(vocab.items()) for x in kv]
    )
    nll_sum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        - F.coalesce(F.try_element_at(lm_map, t), F.lit(float(oov_logprob))),
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            *[F.col(c) for c in carry_cols],
            F.size(toks).cast("bigint").alias("n_tokens"),
            nll_sum.alias("_s"),
        )
        .filter(F.col("n_tokens") >= 1)
        .select(
            "doc_id",
            *carry_cols,
            "n_tokens",
            (F.col("_s") / F.col("n_tokens")).alias("avg_nll"),
        )
    )


def corpus_ngrams(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """All positional word n-grams (NOT per-doc distinct — corpus
    frequency semantics) → (gram, cnt). Documents shorter than ``n``
    tokens contribute nothing. The n-gram expansion is JVM array
    algebra (sequence + slice + concat_ws inside codegen) followed by
    one explode — no Python, and the only shuffle is the
    partial-aggregated ``groupBy gram``."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    toks = tokens_col(F.col(text_col))
    count = F.size(toks)
    grams = F.when(
        count >= n,
        F.transform(
            F.sequence(F.lit(1), count - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        ensure_parallelism(df)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def quality_tiers(
    df: DataFrame,
    lm: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    tiers: int = 3,
    vocab: dict[str, float] | None = None,
    oov_logprob: float | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail partition (Wenzek et al. 2020, §4.3):
    score every document against the LM (``perplexity_score``) and cut
    each ``group_col`` population into ``tiers`` equal-depth buckets by
    perplexity — tier 1 ("head") is the closest-to-the-LM third that
    CCNet keeps preferentially. Per-group equal-depth cutting is the
    point: absolute perplexity is not comparable across languages.

    Determinism: ntile runs over (ROUNDED avg_nll, doc_id) — a total
    order on engine-stable values, so bucket boundaries replay exactly
    in the oracle. One scoring pass + one window shuffle on the group:
    the group column rides THROUGH the scoring aggregation
    (``carry_cols`` — doc_id is unique, so it adds no groups), so no
    join back against the corpus is ever planned.

    → (doc_id, group, n_tokens, avg_nll, tier, tier_label); labels are
    head/middle/tail when tiers=3, else "t<k>".

    Pass ``vocab`` + ``oov_logprob`` (the LM's driver-resident literal
    form) instead of ``lm`` and the scoring pass is the map-only
    ``perplexity_score_lit`` fold — the ntile window's group exchange
    is then the query's ONLY shuffle. Bit-identical either way.
    """
    if vocab is not None:
        j = perplexity_score_lit(
            df, vocab, oov_logprob, text_col, id_col, carry_cols=(group_col,)
        ).withColumn("avg_nll", F.round("avg_nll", 6))
    else:
        j = perplexity_score(
            df, lm, text_col, id_col, carry_cols=(group_col,)
        ).withColumn("avg_nll", F.round("avg_nll", 6))
    return quality_tiers_from_scores(j, tiers=tiers, group_col=group_col)


def quality_tiers_from_scores(
    scores: DataFrame,
    tiers: int = 3,
    group_col: str = "lang",
) -> DataFrame:
    """The TIERING slice of :func:`quality_tiers` over a pre-scored
    (doc_id, group, n_tokens, avg_nll) table — the serving form when
    the LM scores are a written artifact (they are exactly as
    corpus-constant as the LM that produced them: CCNet scores the
    corpus once per snapshot, then cuts tiers per consumer). The plan
    is ONE window exchange on the group over the slim scored table —
    the per-token scoring fold never runs on the query path.
    ``avg_nll`` must already carry the determinism rounding the scorer
    applies (quality_tiers rounds to 6 decimals before tiering)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col("avg_nll").asc(), F.col("doc_id").asc()
    )
    tier = F.ntile(tiers).over(w)
    if tiers == 3:
        label = (
            F.when(tier == 1, F.lit("head"))
            .when(tier == 3, F.lit("tail"))
            .otherwise(F.lit("middle"))
        )
    else:
        label = F.concat(F.lit("t"), tier.cast("string"))
    return scores.select(
        "doc_id",
        group_col,
        "n_tokens",
        "avg_nll",
        tier.cast("bigint").alias("tier"),
        label.alias("tier_label"),
    )


def dsir_weights(
    df: DataFrame,
    target_lm: DataFrame,
    raw_lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log importance ratio between a TARGET-domain language model
    and the RAW-corpus language model,

        log w(doc) = Σ_tok [ log p_target(tok) − log p_raw(tok) ]

    both models being ``train_unigram_lm`` artifacts (DSIR's hashed
    n-gram features reduce to unigram counts here; the estimator shape
    — importance ratio of two bag-of-token models — is the paper's).
    High log_weight = looks like the target domain; resampling keeps
    the top of this ranking (``dsir_select``).

    → (doc_id, n_tokens, log_weight).

    Scale shape: the two LM artifacts merge into ONE ≤(2·vocab)-row
    map (full outer join on token, driver-sized), so scoring is a
    single explode + ONE broadcast join + one partial-aggregated
    groupBy — identical cost to ``perplexity_score`` even though two
    models are consulted. OOV on either side falls back to that
    model's smoothed OOV scalar, exactly as in scoring.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    oov_t = target_lm.filter(F.col("token").isNull()).select(
        F.col("logprob").alias("_oov_t")
    )
    oov_r = raw_lm.filter(F.col("token").isNull()).select(
        F.col("logprob").alias("_oov_r")
    )
    vocab = (
        target_lm.filter(F.col("token").isNotNull())
        .select("token", F.col("logprob").alias("_lp_t"))
        .join(
            raw_lm.filter(F.col("token").isNotNull()).select(
                "token", F.col("logprob").alias("_lp_r")
            ),
            "token",
            "full",
        )
    )
    tok = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(oov_t))
        .crossJoin(F.broadcast(oov_r))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(
                F.coalesce(F.col("_lp_t"), F.col("_oov_t"))
                - F.coalesce(F.col("_lp_r"), F.col("_oov_r"))
            ).alias("log_weight"),
        )
    )


def dsir_select(
    df: DataFrame,
    target_lm: DataFrame,
    raw_lm: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic DSIR selection: keep the ``k`` documents with the
    highest importance ratio. The paper resamples with Gumbel noise;
    the deterministic top-of-ranking form is the reproducible variant
    (equivalent to temperature→0) and replays exactly cross-engine:
    the sort key is the ROUNDED weight with a doc_id tiebreak, so the
    boundary is a total order on engine-stable values. Compiles to
    TakeOrderedAndProject — no global sort materialization.
    """
    w = dsir_weights(df, target_lm, raw_lm, text_col, id_col).withColumn(
        "log_weight", F.round("log_weight", 6)
    )
    return w.orderBy(F.col("log_weight").desc(), F.col("doc_id").asc()).limit(k)


def novelty_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hash_shingles: bool = True,
) -> DataFrame:
    """The corpus-constant half of :func:`ngram_novelty`: per document,
    how many distinct ``shingle_n``-grams make their FIRST corpus
    appearance (min ``id_col``) in that document → (id, n_novel).
    One explode + two partial-agged shuffles; the output is
    doc-cardinality, so freezing it as an artifact is cheap."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import shingles_col

    df = ensure_parallelism(df)
    gram = F.explode(shingles_col(F.col(text_col), shingle_n)).alias("_g")
    key = F.xxhash64("_g") if hash_shingles else F.col("_g")
    firsts = (
        df.select(F.col(id_col), gram)
        .select(F.col(id_col), key.alias("_k"))
        .groupBy("_k")
        .agg(F.min(id_col).alias("_first"))
    )
    return firsts.groupBy(F.col("_first").alias(id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hash_shingles: bool = True,
    novel: DataFrame | None = None,
) -> DataFrame:
    """Corpus-order n-gram novelty: for each document, the fraction of
    its distinct word ``shingle_n``-grams whose FIRST corpus occurrence
    (minimum ``id_col``) is this document.

    → (doc_id, n_grams, n_novel, novelty_frac). A near-duplicate of
    earlier material scores ~0; the first instance of boilerplate
    scores high while its copies score low — the marginal-coverage
    signal behind novelty-ordered curricula and soft dedup (weighting
    documents by how much *new* text they contribute, SoftDedup-style,
    as opposed to the hard keep/drop of ``minhash_dedup``). No
    counterpart in the reference; training-data-pipeline extension.

    Scale shape (100 TB): per-doc gram totals are ``F.size`` of the
    shingle array — map-only, fused with the scan, NO explode. Only the
    first-occurrence side explodes, and with ``hash_shingles`` each
    gram travels as an 8-byte xxhash64, so the one wide shuffle is
    (8 B + id) per (doc, gram) into a partially-aggregated
    ``min(doc_id)`` per gram; the second shuffle is already collapsed
    to one row per DISTINCT gram, and the final join is doc-keyed
    (corpus cardinality, not gram cardinality). Nothing quadratic,
    nothing driver-side.

    Pass ``novel`` (a prebuilt/persisted :func:`novelty_counts` — the
    corpus-constant per-doc first-occurrence totals, in production a
    written ingest-time aggregate) and the explode + both shuffles
    never re-run; the query is the map-only totals + one doc-keyed
    join.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import shingles_col

    df = ensure_parallelism(df)
    if novel is None:
        novel = novelty_counts(df, text_col, id_col, shingle_n, hash_shingles)
    totals = df.select(
        F.col(id_col),
        F.size(shingles_col(F.col(text_col), shingle_n))
        .cast("bigint")
        .alias("n_grams"),
    )
    return totals.join(novel, id_col, "left").select(
        F.col(id_col),
        F.col("n_grams"),
        F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_grams"),
            6,
        ).alias("novelty_frac"),
    )


def keyed_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 10,
) -> DataFrame:
    """The exploded + keyed line stream shared by ``line_dedup`` and
    ``incremental_line_dedup``: one row per (document, line position)
    with the line text, its boilerplate ELIGIBILITY flag (trimmed +
    lowercased length ≥ ``min_chars``) and its 60-bit md5 dedup key —
    eligible lines key on the normalized form (corpus-wide identity),
    short lines on a per-occurrence (doc, pos, form) composite so a
    corpus with billions of blank lines has NO hot key anywhere
    downstream. Map-only (explode + hash, no shuffle): build it once
    per corpus (persist / write it) and every line-level consumer —
    keep-first window, standing-set membership join, line stats —
    rides the same child instead of re-exploding the text per query.

    → (doc_id, pos, line, _e, _k)."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import ensure_parallelism
    from stac_fastapi_duckdb_spark.pipeline.sketch import kmv_hash

    lines = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    norm = F.lower(F.trim(F.col("line")))
    elig = F.length(norm) >= min_chars
    key = F.when(elig, kmv_hash(norm)).otherwise(
        kmv_hash(
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("pos").cast("string"), norm
            )
        )
    )
    return lines.select(
        "doc_id", "pos", "line", elig.alias("_e"), key.alias("_k")
    )


def flag_first_lines(lines: DataFrame) -> DataFrame:
    """The corpus-first-occurrence KEEP verdict over a ``keyed_lines``
    stream: one shuffle on the 60-bit line key, ``_keep`` = short line
    OR first (doc_id, pos) occurrence of the normalized form.

    → (doc_id, pos, line, _keep).

    The verdict is corpus-constant — it depends only on the corpus,
    never on the consuming query — so it is an ARTIFACT: in production
    the line-dedup decision sidecar is written once next to the
    line-hash table (the ``keyed_lines`` analogue) and every rebuild /
    stats consumer reads it instead of re-running the window. Factored
    out of :func:`line_dedup` so the frozen form and the self-building
    form share one definition (bit-identical by construction).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("_k").orderBy("doc_id", "pos")
    return (
        lines.withColumn("_keep", (~F.col("_e")) | (F.row_number().over(w) == 1))
        .drop("_k", "_e")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 10,
    lines: DataFrame | None = None,
    flagged: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level line deduplication (the CCNet / RefinedWeb pass:
    exact duplicate lines — boilerplate, nav chrome, cookie banners —
    are removed corpus-wide, keeping the FIRST occurrence): a line is
    kept iff its trimmed+lowercased form is shorter than ``min_chars``
    (too short to be meaningful boilerplate — blank lines, bullets)
    OR this (doc, position) is the corpus-first occurrence of that
    form, ordered by (doc_id, pos).

    → (doc_id, n_lines, n_kept, text_deduped) with surviving lines
    rejoined in document order.

    Scale shape: exactly TWO shuffles. The exploded (doc, pos, line)
    stream is shuffled once on a 60-bit md5 line key for the
    first-occurrence window — short lines get a per-occurrence
    composite key (md5 of doc:pos:line) instead of sharing one hot
    key, so a corpus with billions of blank lines has NO skewed window
    partition and the keep decision never needs a second pass. The
    rebuild is one groupBy(doc): totals, kept count, and the rejoined
    text all come from a single collect_list — no join back to the
    source. The md5 key is the engine-replayable dedup decision (the
    DuckDB oracle replays key, window, and rebuild verbatim, including
    any hash collision).

    Pass ``lines`` (a prebuilt/persisted ``keyed_lines`` stream) and
    the explode + hashing never re-runs — only the two shuffles do.
    Pass ``flagged`` (a prebuilt/persisted :func:`flag_first_lines`
    verdict stream — the production decision sidecar) and the window
    shuffle never re-runs either: the query is ONE groupBy(doc).
    """
    if flagged is None:
        if lines is None:
            lines = keyed_lines(df, text_col, id_col, min_chars)
        flagged = flag_first_lines(lines)
    kept_lines = F.transform(
        F.filter(
            F.array_sort(F.collect_list(F.struct("pos", "line", "_keep"))),
            lambda x: x["_keep"],
        ),
        lambda x: x["line"],
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("_keep").cast("int")).cast("bigint").alias("n_kept"),
        F.array_join(kept_lines, "\n").alias("text_deduped"),
    )


def hash_embed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    seed: str = "he-v1",
) -> DataFrame:
    """Feature-hashing text vectorizer — "the hashing trick"
    (Weinberger et al., ICML 2009; the Vowpal Wabbit representation):
    every token adds ±1 (sign from a second hash) to bucket
    ``md5(token) mod dim``; the result is L2-normalized. No vocabulary
    artifact, no fitting pass, collision bias cancelled in expectation
    by the sign hash — the zero-infrastructure text vector that feeds
    the ANN / clustering / dedup stack (``pipeline/similarity.py``)
    when no model embedding exists.

    → (doc_id, vec: array<double> length ``dim``, L2-normalized;
    all-zero for a doc whose buckets cancel exactly).

    Scale shape: ONE partially-aggregated shuffle of (doc, bucket, ±1)
    — the map-side combine collapses each doc's token stream to ≤ dim
    cells before the exchange — then a doc-sized densification (same
    map→dense-array pattern as ``sketch.hll_sketch``). The norm is a
    sum of squares of INTEGER counts (exact int64), so normalization
    is one deterministic double division per dim and the vectors
    replay bit-for-bit in any engine with md5.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        ensure_parallelism,
        tokens_col,
    )

    ex = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("_t"),
    )
    md = F.md5(F.concat_ws(":", F.lit(seed), F.col("_t")))
    h1 = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    cells = ex.select(
        "doc_id",
        F.pmod(h1, F.lit(dim)).cast("int").alias("_b"),
        F.when(F.pmod(h2, F.lit(2)) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("_s"),
    )
    if dim <= 256:
        # dense path: ONE groupBy(doc) of ``dim`` conditional sums —
        # map-side combine collapses each doc to a single dim-wide row
        # before the only exchange. (The two-level grouping below pays
        # a second shuffle; measured ~2× slower at dim 32.) Capped at
        # 256 agg columns: thousands of generated agg exprs start to
        # cost more in Catalyst than they save in exchange.
        raw = (
            cells.groupBy("doc_id")
            .agg(
                *[
                    F.sum(
                        F.when(F.col("_b") == i, F.col("_s")).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"_c{i}")
                    for i in range(dim)
                ]
            )
            .select(
                "doc_id",
                F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("_raw"),
            )
        )
    else:
        raw = (
            cells.groupBy("doc_id", "_b")
            .agg(F.sum("_s").cast("long").alias("_v"))
            .groupBy("doc_id")
            .agg(
                F.map_from_entries(F.collect_list(F.struct("_b", "_v"))).alias(
                    "_m"
                )
            )
            .select(
                "doc_id",
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.coalesce(
                        F.element_at(F.col("_m"), i), F.lit(0).cast("long")
                    ),
                ).alias("_raw"),
            )
        )
    # exact-integer sum of squares → one sqrt, one division per dim
    norm = F.sqrt(
        F.aggregate(
            F.col("_raw"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        ).cast("double")
    )
    return raw.select(
        "doc_id",
        F.transform(
            F.col("_raw"),
            lambda x: F.when(norm > 0, F.round(x.cast("double") / norm, 6))
            .otherwise(F.lit(0.0)),
        ).alias("vec"),
    )


def incremental_flag_lines(
    lines: DataFrame,
    base_lines: DataFrame | None,
    base_distinct: bool = False,
) -> DataFrame:
    """The flagging half of :func:`incremental_line_dedup`, split out
    so the per-batch KEEP verdicts — batch-constant once the batch has
    landed — can be frozen as a written sidecar (the same
    dedup-decision artifact family as :func:`flag_first_lines`).
    ``lines`` is the batch's ``keyed_lines`` stream; returns
    (doc_id, pos, line, _e, _k, _keep)."""
    from pyspark.sql import Window

    w = Window.partitionBy("_k").orderBy("doc_id", "pos")
    keyed = lines.select("doc_id", "pos", "line", "_e", "_k")
    first = keyed.withColumn("_rn", F.row_number().over(w))
    # membership as a LEFT join + null marker (not anti-then-rejoin,
    # which would compute the windowed stream on both join sides): one
    # pass over the batch, the standing set never carries row bodies
    if base_lines is not None:
        known = base_lines.select(F.col("h").alias("_k"))
        if not base_distinct:
            # a duplicate h in the standing set would fan out batch
            # rows through the left join — dedup unless the caller
            # vouches the set is already distinct (a MAINTAINED
            # standing set is; re-aggregating it per batch would cost
            # an extra exchange over the whole corpus set)
            known = known.distinct()
        known = known.withColumn("_inbase", F.lit(True))
        first = first.join(known, "_k", "left")
    else:
        first = first.withColumn("_inbase", F.lit(None).cast("boolean"))
    return first.select(
        "doc_id",
        "pos",
        "line",
        "_e",
        "_k",
        (
            (~F.col("_e"))
            | ((F.col("_rn") == 1) & F.col("_inbase").isNull())
        ).alias("_keep"),
    )


def incremental_line_dedup(
    new_docs: DataFrame,
    base_lines: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 10,
    lines: DataFrame | None = None,
    base_distinct: bool = False,
    flagged: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Continuous-ingest companion to ``line_dedup``: dedup an ARRIVING
    batch's lines against a STANDING corpus-line-hash set (the CCNet
    pass as it actually runs in production — the corpus was deduped
    when it landed; re-running the self-dedup over corpus+batch would
    re-shuffle the whole corpus per batch).

    ``base_lines``: 1-column (``h``: long) DataFrame of the standing
    60-bit line-key set (persist ``line_dedup``'s keys or the second
    return value of previous calls); None → empty corpus.

    → (cleaned, new_hashes):
      - cleaned: (doc_id, n_lines, n_kept, text_deduped) — a line
        survives iff shorter than ``min_chars``, or it is the batch's
        first occurrence of its form AND the form is not in the
        standing set;
      - new_hashes: (h) — the surviving eligible line keys, i.e.
        exactly the delta to append to the standing set for the next
        batch.

    Scale shape: the batch is windowed once on the line key (same
    salted-short-line scheme as ``line_dedup`` — no hot blank-line
    partition), then LEFT ANTI joined against the standing set ON THE
    8-BYTE HASH — with the base bucketed/partitioned by ``h`` this is
    the classic ever-growing-set membership join, and the batch side
    is small, so AQE broadcasts it; the standing corpus is never
    rewritten, only appended to. One groupBy(doc) rebuild as in
    ``line_dedup``.

    Pass ``lines`` (a prebuilt/persisted ``keyed_lines`` stream of the
    BATCH docs) and the explode + hashing never re-runs — only the
    window and the membership join do. Pass ``flagged`` (a
    prebuilt/persisted :func:`incremental_flag_lines` verdict stream —
    the per-batch dedup-decision sidecar, batch-constant exactly like
    ``flag_first_lines``'s corpus verdicts) and neither does: the
    query is the groupBy(doc) rebuild only, the production shape where
    flagging runs once when the batch LANDS and every later consumer
    reads the written verdicts.
    """
    if flagged is None:
        if lines is None:
            lines = keyed_lines(new_docs, text_col, id_col, min_chars)
        flagged = incremental_flag_lines(lines, base_lines, base_distinct)
    kept_lines = F.transform(
        F.filter(
            F.array_sort(F.collect_list(F.struct("pos", "line", "_keep"))),
            lambda x: x["_keep"],
        ),
        lambda x: x["line"],
    )
    cleaned = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("_keep").cast("int")).cast("bigint").alias("n_kept"),
        F.array_join(kept_lines, "\n").alias("text_deduped"),
    )
    new_hashes = (
        flagged.filter(F.col("_e") & F.col("_keep"))
        .select(F.col("_k").alias("h"))
        .distinct()
    )
    return cleaned, new_hashes


def span_dup_map(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """The corpus-constant half of :func:`span_dedup`: per affected
    document, the token positions of windows whose 60-bit hash occurred
    earlier in corpus (doc_id, pos) order → (doc_id, _dup_pos array).
    One explode + one window shuffle on the hash; output cardinality is
    affected-docs only, so freezing it as an artifact is cheap — in
    production the written dup-position sidecar of the ExactSubstr
    pass."""
    from pyspark.sql import Window

    from stac_fastapi_duckdb_spark.pipeline.sketch import kmv_hash

    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "").alias("_toks"),
    )
    empty_i = F.array().cast("array<int>")
    wins = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_toks") >= k,
                F.sequence(F.lit(0), F.size("_toks") - k),
            ).otherwise(empty_i)
        ).alias("pos"),
        "_toks",
    ).select(
        "doc_id",
        "pos",
        kmv_hash(F.concat_ws("\x1f", F.slice("_toks", F.col("pos") + 1, k))).alias("_h"),
    )
    w = Window.partitionBy("_h").orderBy("doc_id", "pos")
    return (
        wins.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("_dup_pos"))
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    dup_map: DataFrame | None = None,
) -> DataFrame:
    """ExactSubstr-style repeated-span deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": remove
    any span of >= k consecutive tokens that also occurs elsewhere in
    the corpus, keeping the corpus-FIRST occurrence). The suffix-array
    construction of the paper is replaced by the distributed
    equivalent: every k-token window is hashed (60-bit md5); a window
    whose hash already occurred earlier in corpus order (doc_id, pos)
    is a duplicate; every token covered by >= 1 duplicate window is
    removed. Windows overlap (stride 1), so a duplicated run of
    L >= k tokens is covered end-to-end by its L-k+1 duplicate
    windows — the whole span disappears, exactly the paper's
    semantics for spans the corpus has seen before.

    -> (doc_id, n_tokens, n_removed, text_deduped) for EVERY input
    document (untouched and sub-k docs pass through with
    n_removed = 0).

    Scale shape: the window stream carries only (doc_id, pos, hash) —
    ~20 B/row after the hash projection; the doc text is NOT
    replicated per window. ONE shuffle on the 60-bit window hash
    decides keep-first; duplicate positions collapse back to one
    array row per affected doc (output of the window << input), and
    rebuilding joins that slim dup-map to the docs — a join whose
    right side is only the affected docs. Token coverage, span
    removal, and text rebuild are pure Column array algebra inside
    codegen. At 100 TB the stride-1 explode is the dominant cost
    (n windows/doc); production corpora use a stride > 1 on the
    probe side (identical plan, fewer rows) at a bounded recall
    loss. The DuckDB oracle replays hash, keep-first window, and
    coverage verbatim, including any hash collision.

    Pass ``dup_map`` (a prebuilt/persisted :func:`span_dup_map` — the
    corpus-constant dup-position sidecar) and the explode + hash
    window shuffle never re-run; the query is the rebuild join only.
    """
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "").alias("_toks"),
    )
    empty_i = F.array().cast("array<int>")
    dups = (
        span_dup_map(df, text_col, id_col, k) if dup_map is None else dup_map
    )
    covered = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform("_dup_pos", lambda p: F.sequence(p, p + k - 1))
            )
        ),
        empty_i,
    )
    idx = F.when(
        F.size("_toks") > 0, F.sequence(F.lit(0), F.size("_toks") - 1)
    ).otherwise(empty_i)
    pairs = F.zip_with(
        idx, F.col("_toks"), lambda i, t: F.struct(i.alias("i"), t.alias("t"))
    )
    kept = F.transform(
        F.filter(pairs, lambda x: ~F.array_contains(F.col("_cov"), x["i"])),
        lambda x: x["t"],
    )
    return (
        base.join(dups, "doc_id", "left")
        .withColumn("_cov", covered)
        .select(
            "doc_id",
            F.size("_toks").cast("bigint").alias("n_tokens"),
            F.size("_cov").cast("bigint").alias("n_removed"),
            F.array_join(kept, " ").alias("text_deduped"),
        )
    )
