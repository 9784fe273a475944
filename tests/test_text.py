"""Text analysis operator tests."""

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.pipeline import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat and the dog walked to the park in the morning and it is nice"),
        (2, "der hund und die katze sind nicht in der stadt mit den kindern"),
        (3, "le chat et le chien sont dans la maison pour la nuit et est bon"),
        (4, "el perro y el gato son los animales que viven en la casa por ahora"),
        (5, "这是一个中文文档的例子它包含很多汉字没有空格"),
        (6, "zzz qqq xxx www"),  # no stopword hits → und
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lang_id(docs):
    out = {r.doc_id: r.lang for r in docs.select("doc_id", T.lang_id_col("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "es"
    assert out[5] == "zh"
    assert out[6] == "und"


def test_token_count_modes(spark):
    df = spark.createDataFrame([(1, "hello world, it's 42 degrees!")], "id long, text string")
    ws = df.select(T.token_count_col("text").alias("n")).collect()[0].n
    assert ws == 5
    bpe = df.select(T.token_count_col("text", "bpe_ish").alias("n")).collect()[0].n
    # hello | world | , | it | ' | s | 42 | degrees | !
    assert bpe == 9


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "id long, text string",
    )
    fps = [r.fp for r in df.select(T.fingerprint_col("text").alias("fp")).collect()]
    assert fps[0] == fps[1]  # case + whitespace normalized
    assert fps[2] != fps[0]
    xx = df.select(T.fingerprint_col("text", "xxhash64").alias("fp")).collect()
    assert isinstance(xx[0].fp, int)


def test_quality_features(docs):
    out = {r.doc_id: r for r in T.quality_features(docs).collect()}
    r1 = out[1]
    assert r1.n_tokens == 16
    assert 0 < r1.unique_ratio <= 1.0
    assert r1.punct_ratio == 0.0
    assert out[6].n_tokens == 4


def test_quality_score_ranges(docs, spark):
    scores = {r.doc_id: r.q for r in docs.select("doc_id", T.quality_score_col("text").alias("q")).collect()}
    for s in scores.values():
        assert 0.0 <= s <= 1.0
    # short low-diversity doc scores below a normal sentence
    assert scores[6] < scores[1]


def test_analyze_documents_single_pass(docs):
    out = T.analyze_documents(docs)
    assert set(out.columns) == {"doc_id", "lang_pred", "n_tokens", "n_tokens_bpe", "quality", "fp"}
    assert out.count() == 6


def test_boilerplate_stats_semantics_and_shared_exchange(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import boilerplate_stats

    docs = spark.createDataFrame(
        [
            (1, "copyright acme corp all rights reserved unique prose one"),
            (2, "copyright acme corp all rights reserved unique prose two"),
            (3, "copyright acme corp all rights reserved unique prose three"),
            (4, "completely original sentence with no repeated template"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in boilerplate_stats(docs, min_df=3, shingle_n=3).collect()
    }
    # "copyright acme corp", "acme corp all", ... the 6 shared 3-grams
    # appear in 3 docs (df=3 >= min_df); the per-doc tails don't
    assert out[1].n_boilerplate == out[2].n_boilerplate == out[3].n_boilerplate > 0
    assert out[4].n_boilerplate == 0 and out[4].boilerplate_ratio == 0.0
    for d in (1, 2, 3):
        assert 0 < out[d].boilerplate_ratio < 1

    # the exploded (doc, shingle) stream must be shuffled exactly ONCE
    # (the DF window) — an agg+self-join shape would shuffle it twice
    plan = (
        boilerplate_stats(docs, min_df=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    assert len(re.findall(r"Exchange hashpartitioning\(_g", plan)) == 1
    assert "Join" not in plan


def test_chunk_documents_windows_and_overlap(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame(
        [(1, words), (2, "short text")], "doc_id long, text string"
    )
    out = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.chunk_n_tokens)
        for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    }
    # doc 1: 10 tokens, window 4, step 3 → starts 0,3,6 cover to 10 →
    # ceil((10-4)/3)+1 = 3 chunks
    assert out[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(1, 1)] == ("w3 w4 w5 w6", 4)  # 1-token overlap seam
    assert out[(1, 2)] == ("w6 w7 w8 w9", 4)
    # doc 2 fits one window; chunk_n_tokens is the true (short) count
    assert out[(2, 0)] == ("short text", 2)
    assert len(out) == 4


def test_chunk_documents_covers_every_token(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)
    # every document's final chunk must end exactly at its last token:
    # sum over chunks of (tokens - overlap) + overlap == n_tokens
    from pyspark.sql import functions as FF

    agg = chunks.groupBy("doc_id").agg(
        FF.max("chunk_idx").alias("last"),
        FF.sum("chunk_n_tokens").alias("s"),
        FF.count(FF.lit(1)).alias("k"),
    )
    toks = docs.select(
        "doc_id", FF.size(FF.split(FF.lower(FF.trim("text")), r"\s+")).alias("n")
    )
    bad = (
        agg.join(toks, "doc_id")
        .filter(FF.col("s") - (FF.col("k") - 1) * 8 != FF.col("n"))
        .count()
    )
    assert bad == 0


def test_tfidf_top_terms_ranks_rare_terms_highest(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common common rare1"),
            (2, "common common unique2 unique2"),
            (3, "common filler words here"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.term, r.tf, r.tfidf))
    # doc 1: "rare1" (df=1) must outrank "common" (df=3) despite tf 1 vs 3
    terms1 = [t for t, _, _ in by_doc[1]]
    assert terms1[0] == "rare1" or by_doc[1][0][2] >= by_doc[1][1][2]
    assert "rare1" in terms1
    # doc 2: unique2 with tf=2 and df=1 is the clear top term
    assert by_doc[2][0][0] == "unique2"
    # every doc gets at most k rows, scores are positive
    assert all(len(v) <= 2 for v in by_doc.values())
    assert all(s > 0 for v in by_doc.values() for _, _, s in v)


def test_bm25_ranks_matching_docs_by_saturation_and_length(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),        # high tf, short
            (2, "spark engine " + "pad " * 50),     # one hit, long doc
            (3, "nothing relevant at all here"),    # no hit
            (4, "spark spark engine"),              # high tf, shortest
        ],
        "doc_id long, text string",
    )
    rows = bm25_search(docs, ["spark"], k=10).collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids  # zero-hit docs never score
    # term-frequency saturation + length normalization: the short
    # high-tf docs outrank the long single-hit doc
    assert set(ids[:2]) == {1, 4} and ids[2] == 2
    assert all(rows[i].score >= rows[i + 1].score for i in range(len(rows) - 1))


# ---------------------------------------------------------------------------
# repetition metrics
# ---------------------------------------------------------------------------


def test_repetition_stats_hand_computed(spark):
    rows = [
        (1, "a b a b a b"),      # heavy 2-gram repetition
        (2, "a b c d e f"),      # all unique
        (3, "x"),                # too short for bigrams/trigrams
        (4, "x y"),              # bigrams but no trigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.repetition_stats(df).collect()}

    # doc 1: tokens [a b a b a b] → n=6, distinct=2 → dup_word=4/6
    assert out[1].n_tokens == 6
    assert abs(out[1].dup_word_frac - 4 / 6) < 1e-6
    # bigrams: ab ba ab ba ab → top 'a b' ×3 over 5 positions
    assert abs(out[1].top_bigram_frac - 3 / 5) < 1e-6
    # trigrams: aba bab aba bab → all positions duplicated → 4/4
    assert abs(out[1].dup_trigram_frac - 1.0) < 1e-6

    # doc 2: nothing repeats
    assert out[2].dup_word_frac == 0.0
    assert abs(out[2].top_bigram_frac - 1 / 5) < 1e-6  # every bigram ×1
    assert out[2].dup_trigram_frac == 0.0

    # short docs: fractions defined as 0, no errors
    assert out[3].n_tokens == 1
    assert out[3].top_bigram_frac == 0.0 and out[3].dup_trigram_frac == 0.0
    assert out[4].top_bigram_frac == 1.0  # 'x y' ×1 over 1 position
    assert out[4].dup_trigram_frac == 0.0


def test_repetition_stats_is_map_only(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = T.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # per-row metric: must fuse with the scan
    assert "EvalPython" not in plan


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (1, "mail me at jane.doe+spam@sub.example.co.uk thanks"),
        (2, "server 192.168.1.200 and 10.0.0.7 are down, call +44-20-7946-0958"),
        (3, "no pii here at all"),
        (4, "two mails: a@b.io c.d@e-f.org and +1-555-0100"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.pii_scrub(df).collect()}

    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 0, 0)
    assert "<EMAIL>" in out[1].redacted and "jane" not in out[1].redacted
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 2, 1)
    assert out[2].redacted.count("<IP>") == 2 and "<PHONE>" in out[2].redacted
    assert (out[3].n_emails, out[3].n_ips, out[3].n_phones) == (0, 0, 0)
    assert out[3].redacted == rows[2][1]  # untouched
    assert out[4].n_emails == 2 and out[4].n_phones == 1


def test_pii_email_not_eaten_by_phone(spark):
    # digit-heavy email local part must be redacted as EMAIL, not PHONE
    df = spark.createDataFrame(
        [(1, "user12345678@example.com")], "doc_id long, text string"
    )
    r = T.pii_scrub(df).collect()[0]
    assert r.n_emails == 1 and r.n_phones == 0
    assert r.redacted == "<EMAIL>"


# ---------------------------------------------------------------------------
# hybrid retrieval
# ---------------------------------------------------------------------------


def test_hybrid_search_ranking(spark):
    # doc 1: strong lexical match; doc 2: weak lexical; doc 3: no match
    docs = spark.createDataFrame(
        [
            (1, "spark join scan filter join scan"),
            (2, "scan appears once here with filler words to pad length"),
            (3, "completely unrelated text about gardening and soil"),
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),   # probe
            (1, [0.9, 0.1, 0.0]),   # close to probe
            (2, [0.0, 1.0, 0.0]),   # orthogonal
            (3, [1.0, 0.0, 0.0]),   # identical to probe but no lexical hit
        ],
        "vec_id long, embedding array<float>",
    )
    out = T.hybrid_search(
        docs, embs, ["join", "scan", "filter"], probe_id=0, k=3, n_candidates=3
    ).collect()
    ranked = [r.doc_id for r in out]
    # doc 3 never enters: BM25 candidates gate the rerank
    assert 3 not in ranked
    # doc 1 wins: lexical + dense agree
    assert ranked[0] == 1
    for r in out:
        assert r.hybrid == round(0.1 * r.bm25 + r.cos_sim, 6)


def test_hybrid_search_broadcasts_candidates(spark):
    docs = spark.createDataFrame(
        [(i, "join scan filter") for i in range(5)], "doc_id long, text string"
    )
    embs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    df = T.hybrid_search(docs, embs, ["join"], probe_id=0, k=2, n_candidates=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # candidate set + probe reach the vector side as broadcasts — the
    # embeddings table is never exchanged by hash/range partitioning
    assert plan.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in plan


def test_bm25_indexed_serving_is_bit_identical(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark join scan filter join scan"),
            (2, "scan appears once here with filler words to pad length"),
            (3, "completely unrelated text about gardening and soil"),
            (4, "join join join join scan"),
        ],
        "doc_id long, text string",
    )
    terms = ["join", "scan", "filter"]
    one_shot = {
        r.doc_id: r.score for r in T.bm25_search(docs, terms, k=10).collect()
    }
    n_docs, avgdl = T.bm25_corpus_stats(docs)
    idx = T.bm25_tf_index(docs)
    served = {
        r.doc_id: r.score
        for r in T.bm25_search_indexed(idx, terms, n_docs, avgdl, k=10).collect()
    }
    assert served == one_shot  # exact doubles, not approx
    # the lexicon (term → df) form must replay the window's integers
    lex = {r["term"]: r["df"] for r in idx.groupBy("term").count()
           .withColumnRenamed("count", "df").collect()}
    served_lex = {
        r.doc_id: r.score
        for r in T.bm25_search_indexed(
            idx, terms, n_docs, avgdl, k=10, lexicon=lex
        ).collect()
    }
    assert served_lex == one_shot


def test_hybrid_search_indexed_serving_is_bit_identical(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark join scan filter join scan"),
            (2, "scan appears once here with filler words to pad length"),
            (3, "completely unrelated text about gardening and soil"),
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    terms = ["join", "scan", "filter"]
    base = T.hybrid_search(
        docs, embs, terms, probe_id=0, k=3, n_candidates=3
    ).collect()
    n_docs, avgdl = T.bm25_corpus_stats(docs)
    idx = T.bm25_tf_index(docs)
    served = T.hybrid_search(
        None,
        embs,
        terms,
        probe_id=0,
        k=3,
        n_candidates=3,
        tf_index=idx,
        corpus_stats=(n_docs, avgdl),
        probe_vec=[1.0, 0.0, 0.0],
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in base]


def _hybrid_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark join scan filter join scan"),
            (2, "scan appears once here with filler words to pad length"),
            (3, "completely unrelated text about gardening and soil"),
            (4, "join scan join filter scan scan"),
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.25]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [1.0, 0.0, 0.0]),
            (4, [0.3, 0.3, 0.9]),
        ],
        "vec_id long, embedding array<float>",
    )
    return docs, embs


def test_hybrid_search_local_serving_is_bit_identical(spark, tmp_path):
    """The zero-Spark-job serving path (posting-list probe + bounded
    vector point fetch + float64 rerank) must reproduce the distributed
    retrieve-then-rerank result exactly — same doubles, same order —
    including the float32 probe quantization the distributed plan
    applies via the cast-to-element-type literal."""
    docs, embs = _hybrid_fixture(spark)
    terms = ["join", "scan", "filter"]
    probe = [1.0, 0.0, 0.25]
    base = T.hybrid_search(
        docs, embs, terms, probe_id=0, k=3, n_candidates=3
    ).collect()
    n_docs, avgdl = T.bm25_corpus_stats(docs)
    idx = T.bm25_tf_index(docs)
    lex = {
        r["term"]: r["df"]
        for r in idx.groupBy("term").count()
        .withColumnRenamed("count", "df").collect()
    }
    tf_disk = str(tmp_path / "tf")
    (
        idx.repartition(1)
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(tf_disk)
    )
    emb_disk = str(tmp_path / "embeddings.parquet")
    embs.repartition(1).write.mode("overwrite").parquet(emb_disk)
    served = T.hybrid_search(
        None,
        embs,
        terms,
        k=3,
        n_candidates=3,
        corpus_stats=(n_docs, avgdl),
        probe_vec=probe,
        lexicon=lex,
        tf_index_path=tf_disk,
        embeddings_path=emb_disk,
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in base]


def test_hybrid_search_local_serving_degrades_to_distributed(spark, tmp_path):
    """A missing/corrupt index artifact must fall back to the
    distributed plan, never error — same discipline as get_one_item."""
    docs, embs = _hybrid_fixture(spark)
    terms = ["join", "scan", "filter"]
    base = T.hybrid_search(
        docs, embs, terms, probe_id=0, k=3, n_candidates=3
    ).collect()
    n_docs, avgdl = T.bm25_corpus_stats(docs)
    idx = T.bm25_tf_index(docs)
    lex = {
        r["term"]: r["df"]
        for r in idx.groupBy("term").count()
        .withColumnRenamed("count", "df").collect()
    }
    served = T.hybrid_search(
        None,
        embs,
        terms,
        k=3,
        n_candidates=3,
        tf_index=idx,
        corpus_stats=(n_docs, avgdl),
        probe_vec=[1.0, 0.0, 0.25],
        lexicon=lex,
        tf_index_path=str(tmp_path / "nope" / "tf"),
        embeddings_path=str(tmp_path / "nope" / "emb"),
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in base]


def test_bm25_probe_local_matches_indexed(spark, tmp_path):
    """The driver posting-list probe replays bm25_search_indexed's
    Column algebra term-for-term: identical (doc_id, score) doubles."""
    docs, embs = _hybrid_fixture(spark)
    terms = ["join", "filter"]
    n_docs, avgdl = T.bm25_corpus_stats(docs)
    idx = T.bm25_tf_index(docs)
    lex = {
        r["term"]: r["df"]
        for r in idx.groupBy("term").count()
        .withColumnRenamed("count", "df").collect()
    }
    tf_disk = str(tmp_path / "tf")
    idx.repartition(1).sortWithinPartitions("term", "doc_id").write.parquet(
        tf_disk
    )
    dist = [
        (r.doc_id, r.score)
        for r in T.bm25_search_indexed(
            idx, terms, n_docs, avgdl, k=10, lexicon=lex
        ).orderBy(F.desc("score"), "doc_id").collect()
    ]
    local = T.bm25_probe_local(tf_disk, terms, n_docs, avgdl, lex, k=10)
    assert local == dist


def test_bm25_probe_local_refuses_oversized_posting_fetch(spark, tmp_path):
    """A high-DF (stop-word-ish) term must make the driver probe refuse
    BEFORE reading data — the fetch bound is lexicon-predicted, and the
    caller's distributed plan answers instead."""
    import pytest

    docs, _ = _hybrid_fixture(spark)
    n_docs, avgdl = T.bm25_corpus_stats(docs)
    idx = T.bm25_tf_index(docs)
    tf_disk = str(tmp_path / "tf")
    idx.repartition(1).sortWithinPartitions("term", "doc_id").write.parquet(
        tf_disk
    )
    # a lexicon claiming 10M postings for 'scan' → predicted fetch > cap
    lex = {"scan": 10_000_000, "join": 3}
    with pytest.raises(T.HybridServeUnavailable, match="posting lists too large"):
        T.bm25_probe_local(tf_disk, ["scan", "join"], n_docs, avgdl, lex, k=10)
    # a stale/absent lexicon entry that underpredicts: the actual fetch
    # size is the second gate
    honest_lex = {
        r["term"]: r["df"]
        for r in idx.groupBy("term").count()
        .withColumnRenamed("count", "df").collect()
    }
    with pytest.raises(T.HybridServeUnavailable, match="exceeded cap"):
        T.bm25_probe_local(
            tf_disk, ["scan", "join"], n_docs, avgdl,
            {"scan": 0, "join": 0}, k=10, max_postings=1,
        )
    # under the cap everything still serves
    assert T.bm25_probe_local(tf_disk, ["join"], n_docs, avgdl, honest_lex)
    # a REPEATED query term must not double-count its df toward the
    # cap: the isin filter returns each term's postings once, so the
    # prediction sums over DISTINCT terms — this fetch is under the cap
    # even though the naive per-occurrence sum would refuse it
    df_join = int(honest_lex["join"])
    got = T.bm25_probe_local(
        tf_disk, ["join", "join", "join"], n_docs, avgdl, honest_lex,
        k=10, max_postings=df_join,
    )
    assert got == T.bm25_probe_local(
        tf_disk, ["join", "join", "join"], n_docs, avgdl, honest_lex, k=10
    )


def test_hybrid_search_high_df_term_degrades_to_distributed(
    spark, tmp_path, monkeypatch
):
    """End-to-end: with the posting cap forced tiny, the serving path
    refuses and hybrid_search answers from the distributed plan with
    identical values — and the degradation is observable (warning +
    fallback counter), never silent."""
    import warnings

    docs, embs = _hybrid_fixture(spark)
    terms = ["join", "scan", "filter"]
    base = T.hybrid_search(
        docs, embs, terms, probe_id=0, k=3, n_candidates=3
    ).collect()
    n_docs, avgdl = T.bm25_corpus_stats(docs)
    idx = T.bm25_tf_index(docs)
    lex = {
        r["term"]: r["df"]
        for r in idx.groupBy("term").count()
        .withColumnRenamed("count", "df").collect()
    }
    tf_disk = str(tmp_path / "tf")
    idx.repartition(1).sortWithinPartitions("term", "doc_id").write.parquet(
        tf_disk
    )
    emb_disk = str(tmp_path / "embeddings.parquet")
    embs.repartition(1).write.mode("overwrite").parquet(emb_disk)
    monkeypatch.setattr(T, "BM25_PROBE_MAX_POSTINGS", 2)
    before = T.HYBRID_SERVE_FALLBACKS["count"]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        served = T.hybrid_search(
            None,
            embs,
            terms,
            k=3,
            n_candidates=3,
            tf_index=idx,
            corpus_stats=(n_docs, avgdl),
            probe_vec=[1.0, 0.0, 0.25],
            lexicon=lex,
            tf_index_path=tf_disk,
            embeddings_path=emb_disk,
        ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in base]
    assert T.HYBRID_SERVE_FALLBACKS["count"] == before + 1
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "serving path unavailable" in str(w.message)
        for w in caught
    )


# ---------------------------------------------------------------------------
# fused curation pipeline
# ---------------------------------------------------------------------------


def test_curate_documents_gates_and_dedup(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import curate_documents

    en = "the cat and the dog walked to the park in the morning it is nice day"
    rows = [
        (1, en),                                   # kept
        (2, en),                                   # exact dup of 1 → collapsed
        (3, "der hund und die katze sind nicht in der stadt mit den kindern heute"),  # lang fail
        (4, "the a of to in is"),                  # too short
        (5, " ".join(["the cat"] * 10)),           # repetitive (top bigram)
        (6, en + " mail me a@b.io"),               # pii
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_documents(
        df, min_tokens=10, max_dup_word_frac=0.9, max_top_bigram_frac=0.5
    ).collect()
    assert [r.doc_id for r in out] == [1]  # canonical = min id of the dup pair
    assert out[0].lang_pred == "en"


def test_curate_documents_stage_accounting_rides_the_scan(spark):
    from pyspark.sql import Observation

    from stac_fastapi_duckdb_spark.pipeline.text import curate_documents

    en = "the cat and the dog walked to the park in the morning it is nice day"
    rows = [
        (1, en),
        (2, "der hund und die katze sind nicht in der stadt mit den kindern heute"),
        (3, "the a of"),
        (4, en + " ping 10.1.2.3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("curation")
    kept = curate_documents(
        df,
        min_tokens=10,
        max_dup_word_frac=0.9,
        max_top_bigram_frac=0.5,
        observation=obs,
    )
    assert kept.count() == 1
    m = obs.get
    assert m["n_total"] == 4
    assert m["n_lang_fail"] == 1 and m["n_short"] == 1 and m["n_pii"] == 1
    assert m["n_repetitive"] == 0
    assert m["n_kept"] == 1
    # waterfall attribution partitions the input exactly
    assert (
        m["n_lang_fail"] + m["n_short"] + m["n_repetitive"] + m["n_pii"] + m["n_kept"]
        == m["n_total"]
    )


def test_curate_documents_is_single_scan(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import curate_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        curate_documents(docs)._jdf.queryExecution().executedPlan().toString()
    )
    import re

    # the whole gate chain fuses into ONE corpus scan; the only
    # exchange is the fingerprint dedup shuffle
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "EvalPython" not in plan


# ---------------------------------------------------------------------------
# quality_classifier
# ---------------------------------------------------------------------------

def test_quality_classifier_matches_reference_arithmetic(spark):
    import hashlib

    from stac_fastapi_duckdb_spark.pipeline.text import quality_classifier
    from stac_fastapi_duckdb_spark.plans.qc_index import (
        QC_BIAS,
        QC_WEIGHTS,
    )

    docs = spark.createDataFrame(
        [(1, "The quick brown Fox"), (2, "  spaced   out   tokens ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in quality_classifier(docs).collect()}

    def expect(text):
        toks = text.lower().strip().split()
        s = sum(
            QC_WEIGHTS[int(hashlib.md5(t.encode()).hexdigest()[17:], 16) % 64]
            for t in toks
        )
        return round(QC_BIAS + s / len(toks), 6)

    assert got[1].qc_score == expect("The quick brown Fox")
    assert got[1].n_tokens == 4
    assert got[2].qc_score == expect("spaced out tokens")
    assert got[2].n_tokens == 3
    for r in got.values():
        assert r.qc_keep == (r.qc_score >= 0)


def test_quality_classifier_stays_jvm_side(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import quality_classifier

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = quality_classifier(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan


# ---------------------------------------------------------------------------
# unigram LM perplexity (CCNet-style quality filter)
# ---------------------------------------------------------------------------

def test_train_unigram_lm_smoothing_math(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    lm = {r.token: r.logprob for r in T.train_unigram_lm(df, vocab_size=2).collect()}
    # corpus: a×3, b×1, c×1 → total=5; top-2 vocab = {a, b} (count desc,
    # token asc tiebreak keeps b over c); denom = 5 + 2 + 1 = 8
    import math

    assert set(lm) == {"a", "b", None}
    assert lm["a"] == pytest.approx(math.log(4 / 8))
    assert lm["b"] == pytest.approx(math.log(2 / 8))
    assert lm[None] == pytest.approx(math.log(1 / 8))  # OOV row


def test_perplexity_score_in_vocab_vs_oov(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    lm = T.train_unigram_lm(df, vocab_size=2)
    out = {r.doc_id: r for r in T.perplexity_score(df, lm).collect()}
    import math

    # doc 1 is fully in-vocab: avg of -log p(a),-log p(a),-log p(b)
    exp1 = -(2 * math.log(4 / 8) + math.log(2 / 8)) / 3
    assert out[1].avg_nll == pytest.approx(exp1)
    assert out[1].n_tokens == 3
    # doc 2 has the OOV token c → its nll uses the OOV bucket
    exp2 = -(math.log(4 / 8) + math.log(1 / 8)) / 2
    assert out[2].avg_nll == pytest.approx(exp2)
    # OOV-heavy doc scores strictly worse (higher avg_nll)
    assert out[2].avg_nll > out[1].avg_nll


def test_perplexity_score_broadcasts_the_lm(spark):
    df = spark.createDataFrame(
        [(i, "w%d common" % i) for i in range(50)], "doc_id long, text string"
    )
    lm = T.train_unigram_lm(df, vocab_size=10)
    plan = T.perplexity_score(df, lm)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # vocab join never shuffles the corpus


def test_corpus_ngrams_positional_not_distinct(spark):
    df = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y"), (3, "solo")], "doc_id long, text string"
    )
    got = {r.gram: r.cnt for r in T.corpus_ngrams(df, n=2).collect()}
    # doc 1 contributes x y, y x, x y (positional — "x y" counted twice)
    assert got == {"x y": 3, "y x": 1}


def test_quality_tiers_equal_depth_and_ordered(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import (
        quality_tiers,
        train_unigram_lm,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    lm = train_unigram_lm(docs, vocab_size=300)
    out = quality_tiers(docs, lm).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        tiers = {}
        for r in rows:
            tiers.setdefault(r["tier"], []).append(r)
        sizes = [len(tiers[t]) for t in sorted(tiers)]
        # equal-depth: sizes differ by at most 1, earlier tiers not smaller
        assert max(sizes) - min(sizes) <= 1
        assert sizes == sorted(sizes, reverse=True)
        # every head doc scores <= every tail doc
        head_max = max(r["avg_nll"] for r in tiers[1])
        tail_min = min(r["avg_nll"] for r in tiers[max(tiers)])
        assert head_max <= tail_min
        labels = {r["tier"]: r["tier_label"] for r in rows}
        assert labels[1] == "head" and labels[max(tiers)] == "tail"


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dsir_corpus(spark):
    # target domain = "science"-flavored docs; raw corpus mixes domains
    rows = [
        (1, "the electron and the proton form the atom", "sci"),
        (2, "quantum energy levels of the electron orbit", "sci"),
        (3, "buy cheap shoes online free shipping deals", "web"),
        (4, "click here for the best discount offers now", "web"),
        (5, "the electron microscope resolves the atom lattice", "sci"),
        (6, "limited time offers buy now cheap deals", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, domain string")


def test_dsir_weights_rank_target_domain_higher(dsir_corpus):
    target_lm = T.train_unigram_lm(
        dsir_corpus.filter(F.col("domain") == "sci"), vocab_size=100
    )
    raw_lm = T.train_unigram_lm(dsir_corpus, vocab_size=100)
    w = {
        r.doc_id: r.log_weight
        for r in T.dsir_weights(dsir_corpus, target_lm, raw_lm).collect()
    }
    sci = [w[1], w[2], w[5]]
    web = [w[3], w[4], w[6]]
    assert min(sci) > max(web), f"sci docs must outweigh web docs: {w}"


def test_dsir_weights_numpy_replay(dsir_corpus):
    # replay the closed form: two add-one smoothed LMs, per-token
    # log-ratio sum with OOV fallbacks
    import math
    from collections import Counter

    rows = dsir_corpus.collect()
    toks = {r.doc_id: r.text.lower().strip().split() for r in rows}

    def lm(ids):
        c = Counter(t for i in ids for t in toks[i])
        total = sum(c.values())
        v = len(c)  # vocab_size=100 keeps everything here
        probs = {t: math.log((n + 1) / (total + v + 1)) for t, n in c.items()}
        return probs, -math.log(total + v + 1)

    tgt, tgt_oov = lm([1, 2, 5])
    raw, raw_oov = lm([1, 2, 3, 4, 5, 6])
    target_lm = T.train_unigram_lm(
        dsir_corpus.filter(F.col("domain") == "sci"), vocab_size=100
    )
    raw_lm = T.train_unigram_lm(dsir_corpus, vocab_size=100)
    got = {
        r.doc_id: (r.n_tokens, r.log_weight)
        for r in T.dsir_weights(dsir_corpus, target_lm, raw_lm).collect()
    }
    for i, ts in toks.items():
        want = sum(tgt.get(t, tgt_oov) - raw.get(t, raw_oov) for t in ts)
        n, lw = got[i]
        assert n == len(ts)
        assert abs(lw - want) < 1e-9, f"doc {i}: {lw} vs {want}"


def test_dsir_select_topk_deterministic(dsir_corpus):
    target_lm = T.train_unigram_lm(
        dsir_corpus.filter(F.col("domain") == "sci"), vocab_size=100
    )
    raw_lm = T.train_unigram_lm(dsir_corpus, vocab_size=100)
    kept = T.dsir_select(dsir_corpus, target_lm, raw_lm, k=3)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 5]
    assert [f.name for f in kept.schema.fields] == [
        "doc_id",
        "n_tokens",
        "log_weight",
    ]


def test_dsir_empty_corpus(spark, dsir_corpus):
    empty = spark.createDataFrame([], "doc_id long, text string, domain string")
    target_lm = T.train_unigram_lm(
        dsir_corpus.filter(F.col("domain") == "sci"), vocab_size=100
    )
    raw_lm = T.train_unigram_lm(dsir_corpus, vocab_size=100)
    assert T.dsir_weights(empty, target_lm, raw_lm).count() == 0


@pytest.fixture(scope="module")
def novelty_docs(spark):
    rows = [
        (1, "a b c d e"),          # 3 grams, all first-seen here
        (2, "a b c d e"),          # exact dup of 1 → 0 novel
        (3, "x y z a b c"),        # 4 grams, shares "a b c" with doc 1
        (4, "q"),                  # short doc → whole text as 1 shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_novelty_first_occurrence(novelty_docs):
    out = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty_frac)
        for r in T.ngram_novelty(novelty_docs).collect()
    }
    assert out[1] == (3, 3, 1.0)        # everything new
    assert out[2] == (3, 0, 0.0)        # exact duplicate of doc 1
    assert out[3] == (4, 3, 0.75)       # "a b c" already seen in doc 1
    assert out[4] == (1, 1, 1.0)        # sub-n doc: one whole-text shingle


def test_ngram_novelty_hash_matches_string_grams(novelty_docs):
    hashed = T.ngram_novelty(novelty_docs, hash_shingles=True)
    plain = T.ngram_novelty(novelty_docs, hash_shingles=False)
    assert sorted(map(tuple, hashed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_ngram_novelty_empty(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert T.ngram_novelty(empty).count() == 0


@pytest.fixture(scope="module")
def line_docs(spark):
    rows = [
        (1, "unique first line here\ncommon boilerplate footer line\nx"),
        (2, "another unique opening\ncommon boilerplate footer line"),
        (3, "common boilerplate footer line\nlast unique content line"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_keeps_first_occurrence(line_docs):
    out = {r.doc_id: r for r in T.line_dedup(line_docs).collect()}
    # doc 1 saw the boilerplate first → keeps it; 2 and 3 lose it
    assert out[1].text_deduped == (
        "unique first line here\ncommon boilerplate footer line\nx"
    )
    assert out[2].text_deduped == "another unique opening"
    assert out[3].text_deduped == "last unique content line"
    assert (out[1].n_lines, out[1].n_kept) == (3, 3)
    assert (out[2].n_lines, out[2].n_kept) == (2, 1)
    assert (out[3].n_lines, out[3].n_kept) == (2, 1)


def test_line_dedup_short_lines_always_kept(line_docs):
    out = {r.doc_id: r for r in T.line_dedup(line_docs).collect()}
    # the 1-char line "x" in doc 1 and the empty doc-4 line are sub-10
    # chars → never dedup candidates
    assert out[4].text_deduped == "" and out[4].n_kept == 1

    spark = line_docs.sparkSession
    shorts = spark.createDataFrame(
        [(1, "ok\nok\nok"), (2, "ok")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in T.line_dedup(shorts).collect()}
    assert got[1].text_deduped == "ok\nok\nok"  # short dups survive
    assert got[2].text_deduped == "ok"


def test_line_dedup_normalization_is_case_and_trim_insensitive(spark):
    docs = spark.createDataFrame(
        [
            (1, "Common Boilerplate Footer Line"),
            (2, "  common boilerplate footer line  "),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.line_dedup(docs).collect()}
    assert out[1].n_kept == 1  # first occurrence (lowest doc_id) wins
    assert out[2].n_kept == 0 and out[2].text_deduped == ""


def test_line_dedup_fully_deduped_doc_yields_empty_string(spark):
    docs = spark.createDataFrame(
        [(1, "only one shared long line"), (2, "only one shared long line")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.line_dedup(docs).collect()}
    assert out[2].text_deduped == "" and out[2].n_kept == 0


def test_line_dedup_empty_input(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert T.line_dedup(empty).count() == 0


def test_hash_embed_unit_norm_and_determinism(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "delta"), (3, "alpha beta gamma alpha")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.vec for r in T.hash_embed(docs, dim=16).collect()}
    import math

    for v in out.values():
        assert len(v) == 16
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-4
    # identical text → identical vector (pure function of content)
    assert out[1] == out[3]
    # different text → different vector
    assert out[1] != out[2]


def test_hash_embed_partitioning_invariant(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r.doc_id: r.vec for r in T.hash_embed(docs.coalesce(1), dim=32).collect()}
    b = {r.doc_id: r.vec for r in T.hash_embed(docs.repartition(16), dim=32).collect()}
    assert a == b


def test_hash_embed_cosine_reflects_token_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely unrelated vocabulary about spaceships and quasars"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.vec for r in T.hash_embed(docs, dim=64).collect()}

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(out[1], out[2]) > cos(out[1], out[3])


def test_hash_embed_empty_input(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert T.hash_embed(empty).count() == 0


def test_incremental_line_dedup_against_standing_set(spark):
    from stac_fastapi_duckdb_spark.pipeline.sketch import kmv_hash

    base_keys = (
        spark.createDataFrame(
            [("common boilerplate footer line",)], "line string"
        )
        .select(kmv_hash(F.lower(F.trim(F.col("line")))).alias("h"))
    )
    new = spark.createDataFrame(
        [
            (1, "fresh unique content here\ncommon boilerplate footer line"),
            (2, "another batch duplicate line\nanother batch duplicate line"),
        ],
        "doc_id long, text string",
    )
    from stac_fastapi_duckdb_spark.pipeline.text import incremental_line_dedup

    cleaned, new_hashes = incremental_line_dedup(new, base_keys)
    out = {r.doc_id: r for r in cleaned.collect()}
    # line known to the standing corpus is dropped
    assert out[1].text_deduped == "fresh unique content here"
    # within-batch duplicate: first kept, second dropped
    assert out[2].text_deduped == "another batch duplicate line"
    # the delta contains exactly the two surviving eligible lines
    assert new_hashes.count() == 2


def test_incremental_line_dedup_no_base_equals_self_dedup(spark):
    from stac_fastapi_duckdb_spark.pipeline.text import (
        incremental_line_dedup,
        line_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "shared long line of text\nunique to doc one"),
            (2, "shared long line of text\nunique to doc two"),
        ],
        "doc_id long, text string",
    )
    inc, _ = incremental_line_dedup(docs, None)
    batch = line_dedup(docs)
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_incremental_line_dedup_delta_composes(spark):
    """Running batch 2 against (base + batch-1 delta) must equal the
    full-corpus line_dedup on batch 2's docs."""
    from stac_fastapi_duckdb_spark.pipeline.text import (
        incremental_line_dedup,
        line_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta line"), (2, "second batch one line")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (3, "alpha beta gamma delta line\nnovel content in batch two"),
            (4, "second batch one line"),
        ],
        "doc_id long, text string",
    )
    _, d1 = incremental_line_dedup(b1, None)
    inc2, _ = incremental_line_dedup(b2, d1)
    full = {
        r.doc_id: r.text_deduped
        for r in line_dedup(b1.unionByName(b2)).collect()
    }
    got = {r.doc_id: r.text_deduped for r in inc2.collect()}
    assert got == {k: v for k, v in full.items() if k in (3, 4)}


# ---------------------------------------------------------------- span_dedup


@pytest.fixture(scope="module")
def span_docs(spark):
    rows = [
        # doc 1: the source of the shared 5-token span
        (1, "alpha beta gamma delta epsilon zeta"),
        # doc 2: repeats a 4-token span of doc 1 mid-document
        (2, "intro words beta gamma delta epsilon trailing bits"),
        # doc 3: whole doc duplicates doc 1 exactly
        (3, "alpha beta gamma delta epsilon zeta"),
        # doc 4: shorter than k → untouchable
        (4, "tiny doc"),
        # doc 5: self-repetition inside one doc
        (5, "one two three four one two three four"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_span_dedup_removes_repeated_span_keeps_first(span_docs):
    out = {r.doc_id: r for r in T.span_dedup(span_docs, k=4).collect()}
    # doc 1 is corpus-first → untouched
    assert out[1].text_deduped == "alpha beta gamma delta epsilon zeta"
    assert out[1].n_removed == 0
    # doc 2 loses exactly the 4-token repeat "beta gamma delta epsilon"
    assert out[2].text_deduped == "intro words trailing bits"
    assert out[2].n_removed == 4
    # doc 3 is a whole-document duplicate → everything goes
    assert out[3].text_deduped == "" and out[3].n_removed == 6


def test_span_dedup_sub_k_and_empty_docs_pass_through(span_docs):
    out = {r.doc_id: r for r in T.span_dedup(span_docs, k=4).collect()}
    assert out[4].text_deduped == "tiny doc" and out[4].n_removed == 0
    assert (out[4].n_tokens, out[6].n_tokens) == (2, 0)
    assert out[6].text_deduped == "" and out[6].n_removed == 0


def test_span_dedup_self_repetition_within_doc(span_docs):
    out = {r.doc_id: r for r in T.span_dedup(span_docs, k=4).collect()}
    # windows 1..4 of doc 5 rehash window 0's content shifted; the
    # second "one two three four" run duplicates window 0 → removed
    assert out[5].text_deduped == "one two three four"
    assert out[5].n_removed == 4


def test_span_dedup_overlapping_windows_merge_coverage(spark):
    # a 6-token duplicated run is covered by 3 overlapping 4-windows →
    # removed end-to-end, counted once per token
    rows = [
        (1, "p q r s t u"),
        (2, "x p q r s t u y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.span_dedup(df, k=4).collect()}
    assert out[2].text_deduped == "x y"
    assert out[2].n_removed == 6
