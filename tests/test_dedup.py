"""Dedup operator tests: exact, MinHash-LSH, n-gram Jaccard, SimHash."""

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.pipeline import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    )
    near = base.replace("lazy", "sleepy")  # one-token change → high jaccard
    rows = [
        (1, base),
        (2, base),  # exact duplicate of 1
        (3, near),  # near-duplicate of 1
        (4, "completely different text about spark dataframes and shuffles here"),
        (5, "another unrelated document mentioning catalyst optimizer and codegen"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    kept = {r.keep_id: r.dups for r in out}
    assert kept[1] == 2  # docs 1+2 collapse
    assert kept[3] == 1 and kept[4] == 1 and kept[5] == 1
    assert 2 not in kept


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    row = df.select(dedup.shingles_col("text", 3).alias("sh")).collect()[0]
    assert sorted(row.sh) == ["a b c", "b c d"]
    # short doc → single whole-text shingle
    df2 = spark.createDataFrame([("a b",)], "text string")
    row2 = df2.select(dedup.shingles_col("text", 3).alias("sh")).collect()[0]
    assert row2.sh == ["a b"]


def test_minhash_lsh_finds_near_dups(docs):
    cand = dedup.minhash_lsh_candidates(docs, num_hashes=64, bands=16)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup should bucket together
    # unrelated docs should not appear
    assert (4, 5) not in pairs


def test_ngram_jaccard_pairs(docs):
    cand = dedup.minhash_lsh_candidates(docs, num_hashes=64, bands=16)
    verified = dedup.ngram_jaccard_pairs(docs, cand, threshold=0.5)
    rows = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert rows[(1, 2)] == 1.0
    assert any(p in rows for p in [(1, 3), (2, 3)])
    for (a, b), j in rows.items():
        assert 0.5 <= j <= 1.0


def test_ngram_jaccard_bruteforce(docs):
    out = dedup.ngram_jaccard_pairs(docs, None, threshold=0.9)
    rows = {(r.id_a, r.id_b) for r in out.collect()}
    assert rows == {(1, 2)}


def test_minhash_dedup_mapping(docs):
    mapping = {r.doc_id: r.canonical_id for r in dedup.minhash_dedup(docs, threshold=0.5).collect()}
    assert mapping[1] == 1
    assert mapping[2] == 1
    assert mapping[3] == 1  # near-dup folds into 1
    assert mapping[4] == 4 and mapping[5] == 5


def test_simhash_stable_and_near(docs, spark):
    sh = dedup.with_simhash(docs).select("doc_id", "simhash").collect()
    by_id = {r.doc_id: r.simhash for r in sh}
    assert by_id[1] == by_id[2]  # identical text → identical signature
    # near-dup differs in few bits
    ham = bin(by_id[1] ^ by_id[3]).count("1")
    assert ham <= 12
    # unrelated docs differ in many bits
    assert bin(by_id[1] ^ by_id[4]).count("1") > 12


def test_simhash_near_dup_pairs(docs):
    pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=12)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (4, 5) not in got


def test_simhash_first_agreeing_chunk_emission_exact(spark):
    """Round-11 optimization pin: the first-agreeing-chunk emission
    (codegen filter) must produce EXACTLY the pair multiset of the old
    join + .distinct() formulation — i.e. the brute-force Hamming≤t
    closure over the signature table, each pair once — whenever no
    bucket is capped (the uncapped case is the contract; capped
    degenerate buckets conservatively contribute no pairs)."""
    import itertools
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(40):
        base = [rng.choice(words) for _ in range(30)]
        rows.append((i, " ".join(base)))
        # planted near-dup: flip one word
        mutated = list(base)
        mutated[rng.randrange(len(mutated))] = rng.choice(words)
        rows.append((i + 1000, " ".join(mutated)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    t = 8
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_dup_pairs(df, max_hamming=t).collect()
    }
    # brute-force reference over the signatures themselves
    sigs = {
        r.doc_id: r._sh
        for r in dedup.with_simhash(df, "text", "_sh").collect()
    }
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        if h <= t:
            want.add((a, b, h))
    assert got == want
    # duplicate-free by construction (the old formulation needed a
    # distinct exchange to guarantee this)
    pairs_df = dedup.simhash_near_dup_pairs(df, max_hamming=t)
    assert pairs_df.count() == pairs_df.distinct().count()


def test_connected_components_transitive_chain(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import connected_components

    # chain 1-2-3-4 plus isolated 9: transitivity must fold the whole
    # chain to component 1 even though (1,4) is never a direct edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 7, 8, 9)], "doc_id long")
    got = {
        r.doc_id: r.component
        for r in connected_components(edges, all_ids=ids).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 9}


def test_connected_components_warns_when_truncated(spark):
    """A run that exhausts max_iter before the star-forest fixpoint
    must WARN — the caller can't otherwise tell a truncated run from a
    converged one."""
    import pytest

    from stac_fastapi_duckdb_spark.pipeline.dedup import connected_components

    # a 40-node chain cannot reach the star fixpoint in one round
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    # driver_cap=0 forces the distributed loop (the driver union-find
    # fast path would close the chain exactly regardless of max_iter)
    with pytest.warns(RuntimeWarning, match="fixpoint not reached"):
        connected_components(chain, max_iter=1, driver_cap=0)
    # and a converged run emits no fixpoint warning (only that one is
    # escalated — unrelated pyspark Deprecation/Resource warnings from
    # a future version bump must not fail this test)
    import warnings

    with warnings.catch_warnings():
        warnings.filterwarnings(
            "error", message=".*fixpoint not reached.*", category=RuntimeWarning
        )
        got = {
            r.doc_id: r.component
            for r in connected_components(chain).collect()
        }
    assert set(got.values()) == {0}


def test_connected_components_star_matches_union_find(spark):
    """The distributed large-star/small-star loop (``driver_cap=0``)
    and the driver union-find fast path (default cap) are independent
    algorithms; both must reach the identical fixpoint (component = min
    id) on adversarial shapes: a long chain (deep diameter), a star
    with a non-min center, a multi-parent merge, dup/reversed/self
    edges."""
    import random

    from stac_fastapi_duckdb_spark.pipeline.dedup import connected_components

    cases = [
        # 30-hop chain: the diameter case star-alternation exists for
        [(i, i + 1) for i in range(1, 31)],
        # star centered at a NON-min node + reversed and self edges
        [(50, 7), (50, 9), (50, 3), (9, 50), (3, 3)],
        # two components merged through a shared large child
        [(5, 1), (5, 2), (8, 6), (8, 7)],
    ]
    rng = random.Random(42)
    nodes = list(range(100))
    cases.append(
        [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    )
    for edges_py in cases:
        edges = spark.createDataFrame(edges_py, "id_a long, id_b long")
        ids = spark.createDataFrame(
            [(n,) for n in sorted({x for e in edges_py for x in e})],
            "doc_id long",
        )
        star = {
            r.doc_id: r.component
            for r in connected_components(
                edges, all_ids=ids, driver_cap=0
            ).collect()
        }
        fast = {
            r.doc_id: r.component
            for r in connected_components(edges, all_ids=ids).collect()
        }
        assert fast == star
        # without all_ids the fast path serves the whole answer from a
        # LocalRelation — same values as the distributed no-all_ids run
        fast_local = {
            r.doc_id: r.component
            for r in connected_components(edges).collect()
        }
        dist_local = {
            r.doc_id: r.component
            for r in connected_components(edges, driver_cap=0).collect()
        }
        assert fast_local == dist_local


def test_connected_components_star_fuzz_vs_union_find(spark):
    """Hypothesis differential gate for the CC operator: on random edge
    multisets (self loops, dups, reversed pairs, disconnected nodes)
    the distributed star fixpoint (``driver_cap=0``) must equal the
    driver union-find's."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from stac_fastapi_duckdb_spark.pipeline.dedup import connected_components

    node = st.integers(min_value=0, max_value=40)
    edges_strat = st.lists(st.tuples(node, node), min_size=1, max_size=40)

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges_py=edges_strat)
    def check(edges_py):
        edges = spark.createDataFrame(edges_py, "id_a long, id_b long")
        ids = spark.createDataFrame(
            [(n,) for n in sorted({x for e in edges_py for x in e})],
            "doc_id long",
        )
        star = {
            r.doc_id: r.component
            for r in connected_components(
                edges, all_ids=ids, driver_cap=0
            ).collect()
        }
        fast = {
            r.doc_id: r.component
            for r in connected_components(edges, all_ids=ids).collect()
        }
        assert star == fast

    check()


def test_minhash_dedup_transitive_planted_chain(spark):
    # planted 3-chain: adjacent docs share >=0.8 shingle jaccard, the
    # endpoints only ~0.73 — so no direct (a,c) pair is ever verified.
    # The transitive default must still map c to a (one-hop maps c->b).
    words = [f"w{i:02d}" for i in range(50)]
    rows = [
        (1, " ".join(words[0:40])),
        (2, " ".join(words[3:43])),
        (3, " ".join(words[6:46])),
        (4, "totally unrelated content about something else entirely okay"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, None, threshold=0.8).collect()
    }
    assert pairs == {(1, 2), (2, 3)}  # the chain premise must hold

    mapping = {
        r.doc_id: r.canonical_id
        for r in dedup.minhash_dedup(docs, threshold=0.8).collect()
    }
    assert mapping == {1: 1, 2: 1, 3: 1, 4: 4}

    one_hop = {
        r.doc_id: r.canonical_id
        for r in dedup.minhash_dedup(docs, threshold=0.8, transitive=False).collect()
    }
    assert one_hop[3] == 2  # documents the non-transitive trade-off


def test_incremental_near_dup_finds_cross_side_pairs_only(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import incremental_near_dup

    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "a completely different base document about spark plans"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-copy of base doc 1 (one word changed)
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            # near-copy of ANOTHER new doc — must NOT pair (new×new is
            # the self-dedup job's business, not incremental's)
            (11, "fresh unseen content with no counterpart anywhere one"),
            (12, "fresh unseen content with no counterpart anywhere two"),
        ],
        "doc_id long, text string",
    )
    got = incremental_near_dup(new, base, threshold=0.5).collect()
    assert {(r.new_id, r.base_id) for r in got} == {(10, 1)}
    assert all(0.5 <= r.jaccard <= 1.0 for r in got)


def test_incremental_near_dup_matches_bruteforce_on_testdata(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        incremental_near_dup,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r.new_id, r.base_id, r.jaccard)
        for r in incremental_near_dup(new, base, threshold=0.8).collect()
    }
    # brute-force oracle: all-pairs exact Jaccard across the split
    brute = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, None, threshold=0.8).collect()
        if (r.id_a % 5 == 0) != (r.id_b % 5 == 0)
    }
    brute = {
        (a, b, j) if a % 5 == 0 else (b, a, j) for a, b, j in brute
    }
    assert got == brute


# ---------------------------------------------------------------------------
# duplicate_spans / anchor-window containment
# ---------------------------------------------------------------------------

def test_duplicate_spans_marks_and_merges(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{shared} unique one tail words here now"),
            (2, f"prefix other words {shared} trailing bits"),
            (3, "completely different text with no overlap at all ok"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.span_start, r.span_len) for r in
           duplicate_spans(docs, window_tokens=8).collect()}
    # doc 1: shared run at token 0..7; doc 2: at token 3..10; doc 3: none
    assert got == {(1, 0, 8), (2, 3, 8)}


def test_duplicate_spans_merges_overlapping_windows(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import duplicate_spans

    # two docs share a 10-token run -> 3 overlapping 8-token windows
    # that must merge into ONE span of length 10
    run = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, f"{run} xx yy"), (2, f"zz ww {run}")],
        "doc_id long, text string",
    )
    rows = duplicate_spans(docs, window_tokens=8).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert len(rows) == 2
    assert (by_doc[1].span_start, by_doc[1].span_len, by_doc[1].n_windows) == (0, 10, 3)
    assert (by_doc[2].span_start, by_doc[2].span_len, by_doc[2].n_windows) == (2, 10, 3)


def test_anchor_window_candidates_catch_low_jaccard_containment(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        anchor_window_candidates,
        shingle_containment_pairs,
    )

    # doc 2 is doc 1's first 10 tokens verbatim inside 40 tokens of
    # unrelated text: Jaccard is tiny, containment is ~1.0
    quoted = "one two three four five six seven eight nine ten"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quoted), (2, f"{filler} {quoted}")],
        "doc_id long, text string",
    )
    cand = anchor_window_candidates(docs, window_tokens=8)
    assert {(r.id_a, r.id_b) for r in cand.collect()} == {(1, 2)}
    got = shingle_containment_pairs(docs, cand, threshold=0.9).collect()
    assert len(got) == 1
    assert got[0].containment == 1.0


def test_containment_is_direction_free(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        shingle_containment_pairs,
    )

    big = " ".join(f"t{i}" for i in range(30))
    small = " ".join(f"t{i}" for i in range(12))  # prefix of big
    docs = spark.createDataFrame(
        [(1, big), (2, small), (3, small)],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.containment
           for r in shingle_containment_pairs(docs, None, threshold=0.9).collect()}
    # small-in-big both directions of id order, and small==small
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert all(v == 1.0 for v in got.values())


def test_cluster_representatives_picks_best_scored(spark):
    from pyspark.sql import functions as F

    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        cluster_representatives,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tail"),   # near-dup of 1
            (3, "completely unrelated text about spark physical plans ok"),
        ],
        "doc_id long, text string",
    )
    scores = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.5)], "doc_id long, qc_score double"
    )
    got = {r.canonical_id: r for r in cluster_representatives(
        docs, score_df=scores, threshold=0.5
    ).collect()}
    # cluster {1,2}: doc 2 has the higher score -> representative,
    # even though 1 is the canonical (min-id) label
    assert got[1].rep_id == 2 and got[1].n_members == 2
    assert got[1].rep_score == 0.9
    # singleton keeps itself
    assert got[3].rep_id == 3 and got[3].n_members == 1


def test_cluster_representatives_tiebreak_is_min_id(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        cluster_representatives,
    )

    txt = "one two three four five six seven eight nine ten eleven"
    docs = spark.createDataFrame(
        [(5, txt), (9, txt)], "doc_id long, text string"
    )
    scores = spark.createDataFrame(
        [(5, 0.7), (9, 0.7)], "doc_id long, qc_score double"
    )
    rows = cluster_representatives(docs, score_df=scores).collect()
    assert len(rows) == 1 and rows[0].rep_id == 5


def test_remove_duplicate_spans_keep_one_semantics(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        remove_duplicate_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} unique one"),
            (2, f"pre fix {shared} post"),
            (3, "totally different words here to stay safe now"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in remove_duplicate_spans(docs, 8).collect()}
    # owner (lowest id) keeps the run untouched
    assert got[1].clean_text == f"{shared} unique one"
    assert got[1].n_removed == 0
    # the other occurrence is excised, surrounding text preserved
    assert got[2].clean_text == "pre fix post"
    assert got[2].n_removed == 8
    # untouched doc passes through
    assert got[3].n_removed == 0 and got[3].clean_text == docs.collect()[2].text
    # every input doc appears
    assert set(got) == {1, 2, 3}


def test_remove_duplicate_spans_cleaned_corpus_has_no_dups(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    shifted = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    corpus = docs.unionByName(shifted)
    cleaned = remove_duplicate_spans(corpus, 8).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # fixpoint: after keep-one cleaning, re-detection finds spans ONLY
    # inside owner docs' kept copies paired with... nothing: every
    # non-owner copy is gone, so no window occurs in >= 2 docs
    assert duplicate_spans(cleaned, 8).count() == 0


# ---------------------------------------------------------------------------
# edit_distance_pairs: deletion-neighborhood blocking + exact Levenshtein
# ---------------------------------------------------------------------------

def test_edit_distance_pairs_catches_planted_typos(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import edit_distance_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # 1 sub
        (3, "the quick brown fox jumps over the dog"),        # 1 del
        (4, "completely different content about spark plans"),
        (5, "the quick brown fox jumps over the lazy dog"),   # exact dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, max_dist=10).collect()
    }
    assert got[(1, 5)] == 0
    assert got[(1, 2)] == 3      # dog -> cat
    assert got[(1, 3)] == 5      # "lazy " removed
    assert not any(4 in p for p in got)


def test_edit_distance_pairs_respects_max_dist_and_cap(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import edit_distance_pairs

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma deltaxxxxxxxxxxxx"),  # shares deletion sig? no — but shares no sig
        (3, "alpha beta gamma"),                    # deletion of delta
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in edit_distance_pairs(df, max_dist=6).collect()}
    assert (1, 3) in got and got[(1, 3)] == 6
    # a tight max_dist filters verified pairs out
    assert edit_distance_pairs(df, max_dist=3).count() == 0
    # cap of 1 drops every bucket with >=2 members -> no candidates
    assert edit_distance_pairs(df, max_bucket_size=1).count() == 0


def test_edit_distance_pairs_star_is_linear_star_cover(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import edit_distance_pairs

    # a planted 4-clone cluster: all-pairs emits C(4,2)=6, star emits 3
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(1, 5)]
    rows.append((9, "entirely unrelated content about query planning"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    allp = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, max_dist=10).collect()
    }
    star = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, max_dist=10, pair_mode="star").collect()
    }
    assert len(allp) == 6
    assert set(star) == {(1, 2), (1, 3), (1, 4)}  # member -> canonical only
    for k, d in star.items():
        assert allp[k] == d


def test_pair_mode_typo_raises(spark):
    """A mistyped ``pair_mode`` must raise, not silently run all-pairs
    — in the in-bucket expansion (edit_distance_pairs → _bucket_pairs)
    and in blocked record linkage alike."""
    import pytest

    from stac_fastapi_duckdb_spark.pipeline.dedup import edit_distance_pairs
    from stac_fastapi_duckdb_spark.pipeline.entities import blocked_match_pairs

    df = spark.createDataFrame(
        [(1, "abc", "k"), (2, "abd", "k")], "doc_id long, text string, blk string"
    )
    with pytest.raises(ValueError, match="unknown pair_mode 'stars'"):
        edit_distance_pairs(df, pair_mode="stars")
    with pytest.raises(ValueError, match="unknown pair_mode 'All'"):
        blocked_match_pairs(df, "doc_id", "text", ["blk"], pair_mode="All")
