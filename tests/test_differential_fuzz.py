"""Cross-engine differential fuzzing: run document-table contract
queries on RANDOM generated corpora through BOTH the Spark plan and
its DuckDB oracle and compare values.

The per-round correctness gate checks the oracles on the fixed
testdata; this harness removes the fixed-corpus assumption — any
tokenization, hashing, rounding, or null-handling divergence that only
appears on corpora the testdata doesn't contain (empty strings,
whitespace runs, single-token docs, heavy duplication) fails here.
Alphabet is printable ASCII by design: the engines' regex/locale
semantics (RE2 vs Java) agree there, and that is the contract the
oracles state.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stac_fastapi_duckdb_spark.plans import entry_queries as eq

# document-only queries: the generated corpus replaces documents.parquet
FUZZED_QUERIES = [
    "token_count",
    "text_fingerprint",
    "dedup_exact",
    "quality_classifier",
    "duplicate_spans",
    "shuffle_shards",
    "dataset_fingerprint",
    "profile_table",
    # hash-deterministic scale operators: the bucketed row-id
    # construction and the KMV sketch must replay on ANY corpus shape
    "global_row_ids",
    "kmv_distinct",
    "weighted_sample",
    "edit_distance_pairs",
    "snapshot_diff",
    # first-occurrence semantics (corpus-order sensitive) must replay
    # on heavy-duplication / empty / whitespace-only corpora
    "ngram_novelty",
    "line_dedup",
    "decontaminate",
    "hash_embed",
    "incremental_line_dedup",
    "span_dedup",
    "stratified_exact_sample",
    "quarantine",
]

word = st.sampled_from(
    ["a", "b", "ab", "ba", "x1", "Zq", "hello", "the", "a"]
)
text = st.one_of(
    st.just(""),
    st.just("   "),
    st.lists(word, min_size=1, max_size=30).map(" ".join),
    # whitespace-run variant: tabs/newlines between tokens
    st.lists(word, min_size=1, max_size=10).map("\t ".join),
    # multi-line variant: exercises line-granular operators
    # (line_dedup) and \n-in-token handling everywhere else
    st.lists(
        st.lists(word, min_size=1, max_size=6).map(" ".join),
        min_size=1,
        max_size=5,
    ).map("\n".join),
)
corpus = st.lists(text, min_size=1, max_size=12)


def _norm(df) -> list[str]:
    """Same value normalization as tools/oracle_check.py."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(f"{v:.6f}")
            else:
                row.append(str(v))
        rows.append("|".join(row))
    return sorted(rows)


# Per-query absolute float tolerance for the RANDOM-corpus comparison.
# Both engines compute single-pass double moments (covar/corr/var) with
# their own accumulation order; when a true value lands within an ulp
# of the query's rounding boundary, two CORRECT engines flip the last
# rounded digit differently (hypothesis-found example: covar_samp
# -2978.09875, rounded at 1e-4 → -2978.0988 vs -2978.0987). The fixed
# testdata oracle gate stays EXACT; this tolerance — 1.5 steps of the
# query's coarsest rounding — only absorbs boundary flips on
# adversarial random inputs, never semantic divergence.
FLOAT_TOL = {"stats_agg": 1.5e-4}


def _fields_close(ra: str, rb: str, tol: float) -> bool:
    fa, fb = ra.split("|"), rb.split("|")
    if len(fa) != len(fb):
        return False
    for va, vb in zip(fa, fb):
        if va == vb:
            continue
        try:
            if abs(float(va) - float(vb)) <= tol:
                continue
        except ValueError:
            pass
        return False
    return True


def _rows_close(a: list[str], b: list[str], tol: float) -> bool:
    """True iff the rows of ``a`` and ``b`` pair up one to one, each pair
    equal field by field within ``tol``. The rows are matched as
    multisets (augmenting-path bipartite matching), not zipped in sorted
    order: a float that flips across a rounding boundary can reorder
    two rows, and a zip would then compare the wrong pairs."""
    if len(a) != len(b):
        return False
    match: dict[int, int] = {}  # index into b -> index into a

    def augment(i: int, seen: set[int]) -> bool:
        for j, rb in enumerate(b):
            if j not in seen and _fields_close(a[i], rb, tol):
                seen.add(j)
                if j not in match or augment(match[j], seen):
                    match[j] = i
                    return True
        return False

    return all(augment(i, set()) for i in range(len(a)))


def _assert_match(name: str, a: list[str], b: list[str]) -> None:
    tol = FLOAT_TOL.get(name)
    if tol is not None:
        assert _rows_close(a, b, tol), f"{name} diverged: {a[:3]} vs {b[:3]}"
    else:
        assert a == b, f"{name} diverged: {a[:3]} vs {b[:3]}"


def test_rows_close_matches_rows_reordered_by_a_rounding_flip():
    """Two rows whose float key differs by one rounding step (1e-4, the
    stats_agg scale) across engines sort in opposite orders; the
    tolerant compare must still pair each row with its counterpart."""
    spark_rows = sorted(["1.000100|click|3", "1.000100|view|5"])
    duck_rows = sorted(["1.000200|click|3", "1.000100|view|5"])
    assert spark_rows[0].endswith("click|3")
    assert duck_rows[0].endswith("view|5")  # the flip swapped the order
    assert _rows_close(spark_rows, duck_rows, FLOAT_TOL["stats_agg"])
    # a real divergence in a non-float field still fails
    assert not _rows_close(
        spark_rows, sorted(["1.000200|click|4", "1.000100|view|5"]),
        FLOAT_TOL["stats_agg"],
    )


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("diff_fuzz")


_COUNTER = [0]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=corpus)
def test_spark_and_duckdb_agree_on_random_corpora(spark, fuzz_dir, texts):
    _COUNTER[0] += 1
    d = fuzz_dir / f"case{_COUNTER[0]}"
    d.mkdir()
    rows = [
        (i, t, "en", "fuzz", len(t)) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.parquet(str(d / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    for name in FUZZED_QUERIES:
        sdf = eq.QUERIES[name](spark, str(d)).toPandas()
        odf = con.execute(eq.ORACLE_SQL[name]).fetchdf()
        assert sorted(sdf.columns) == sorted(odf.columns), name
        assert _norm(sdf) == _norm(odf), (
            f"{name} diverged on corpus {texts!r}"
        )
    con.close()


# ---------------------------------------------------------------------------
# events-table differential fuzz: timestamps are the riskiest parity
# area (precision, tz, window bucketing, ordering ties)
# ---------------------------------------------------------------------------

EVENTS_QUERIES = [
    "events_hourly_rollup",
    "user_stats",
    "sessionize",
    "funnel_steps",
    "first_last_window",
    "datetime_range",
    "pivot_events",
    "gap_fill",
    "sampled_quantiles",
    "trend_fit",
    # deterministic sketches over (event_type, user_id): register /
    # θ replay must hold on any cardinality mix, incl. an absent
    # 'click' or 'purchase' side (empty sketch, θ = full space)
    "hll_distinct",
    "kmv_overlap",
    # Expand CUBE + trailing-frame z-score over random event mixes
    "cube_agg",
    "rolling_window",
    # full-window interior filter + one-division means must replay on
    # sparse/short random series (often zero interior rows)
    "seasonal_decompose",
    # IGNORE-NULLS carry + (ts, side, id) tie order on random event mixes
    "attribution",
    # granule decomposition + canonical-granule dedup vs SQL IEJoin
    "interval_overlap",
    # range-join composition + 1/n credit + NULL-row union on random mixes
    "linear_attribution",
]

_etypes = st.sampled_from(["view", "click", "purchase", "error", "signup"])
_event = st.tuples(
    st.integers(min_value=0, max_value=2 * 24 * 3600),  # seconds offset, 2 days
    st.integers(min_value=0, max_value=9),  # user
    _etypes,
    st.integers(min_value=0, max_value=400),  # value in quarter-units
)
_events_corpus = st.lists(_event, min_size=1, max_size=60)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=_events_corpus)
def test_spark_and_duckdb_agree_on_random_events(spark, fuzz_dir, evs):
    import datetime as dt

    _COUNTER[0] += 1
    d = fuzz_dir / f"events{_COUNTER[0]}"
    d.mkdir()
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i, (sec, uid, etype, qv) in enumerate(evs):
        # event_id µs component makes every ts unique: ordering ties
        # between engines are then impossible by construction
        ts = base + dt.timedelta(seconds=sec, microseconds=i)
        # quarter-unit values are exactly representable doubles: sums
        # agree in ANY accumulation order, so the fuzz tests semantics,
        # not float-reduction order
        rows.append((i, ts, uid, etype, qv * 0.25, '{"k": %d}' % (i % 100)))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    df.coalesce(1).write.parquet(str(d / "events.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    for name in EVENTS_QUERIES:
        sdf = eq.QUERIES[name](spark, str(d)).toPandas()
        odf = con.execute(eq.ORACLE_SQL[name]).fetchdf()
        assert sorted(sdf.columns) == sorted(odf.columns), name
        a, b = _norm(sdf), _norm(odf)
        _assert_match(name, a, b)
    con.close()


# ---------------------------------------------------------------------------
# relational/money differential fuzz: decimal money paths, joins,
# percentiles, histograms over generated TPC-H-ish tables
# ---------------------------------------------------------------------------

RELATIONAL_QUERIES = [
    "pricing_summary",
    "top_revenue_orders",
    "topk",
    "histogram",
    "percentile_agg",
    "distinct_count",
    "scalar_subquery",
    "semi_join",
    "stats_agg",
    # Expand-based subtotals: GROUPING-id parity and NULL-vs-subtotal
    # disambiguation must hold on degenerate group mixes
    "rollup_agg",
    "grouping_sets",
]

_li = st.tuples(
    st.integers(min_value=1, max_value=20),    # orderkey (may dangle)
    st.integers(min_value=1, max_value=50),    # quantity
    st.integers(min_value=100, max_value=99999),  # price cents
    st.integers(min_value=0, max_value=10),    # discount %
    st.integers(min_value=0, max_value=8),     # tax %
    st.sampled_from(["A", "N", "R"]),
    st.sampled_from(["O", "F"]),
    st.integers(min_value=0, max_value=364),   # shipdate offset days
)
_ord = st.tuples(
    st.integers(min_value=1, max_value=5),     # custkey
    st.sampled_from(["O", "F", "P"]),
    st.integers(min_value=1000, max_value=999999),  # totalprice cents
    st.integers(min_value=0, max_value=364),
    st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lis=st.lists(_li, min_size=1, max_size=40),
    ords=st.lists(_ord, min_size=1, max_size=15),
)
def test_spark_and_duckdb_agree_on_random_relational(spark, fuzz_dir, lis, ords):
    import datetime as dt

    _COUNTER[0] += 1
    d = fuzz_dir / f"rel{_COUNTER[0]}"
    d.mkdir()
    base = dt.datetime(2024, 1, 1)

    li_rows = [
        (
            ok, ok * 100 + i, ok * 10 + i, i,
            float(q), cents / 100.0, disc / 100.0, tax / 100.0,
            rf, ls, base + dt.timedelta(days=sd),
        )
        for i, (ok, q, cents, disc, tax, rf, ls, sd) in enumerate(lis)
    ]
    ord_rows = [
        (
            i + 1, ck, status, cents / 100.0,
            base + dt.timedelta(days=od), prio,
        )
        for i, (ck, status, cents, od, prio) in enumerate(ords)
    ]
    cust_rows = [
        (k, f"Customer#{k}", k % 3, 1000.0 + k, ["BUILDING", "AUTOMOBILE", "MACHINERY"][k % 3])
        for k in range(1, 6)
    ]
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    spark.createDataFrame(
        ord_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    spark.createDataFrame(
        cust_rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).coalesce(1).write.parquet(str(d / "customer.parquet"))

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    for name in RELATIONAL_QUERIES:
        sdf = eq.QUERIES[name](spark, str(d)).toPandas()
        odf = con.execute(eq.ORACLE_SQL[name]).fetchdf()
        assert sorted(sdf.columns) == sorted(odf.columns), name
        a, b = _norm(sdf), _norm(odf)
        _assert_match(name, a, b)
    con.close()


# ---------------------------------------------------------------------------
# embeddings differential fuzz: vector math (cosine folds, frozen-index
# replays, centroid z-scores) on random vectors
# ---------------------------------------------------------------------------

EMBEDDING_QUERIES = [
    "embedding_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "embedding_outliers",
    "semdedup",
    "mmr_rerank",
]

# eighth-unit components are exactly representable: vector arithmetic
# divergence (if any) is then structural, not accumulation noise
_vec = st.lists(
    st.integers(min_value=-16, max_value=16), min_size=64, max_size=64
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=st.lists(_vec, min_size=3, max_size=25))
def test_spark_and_duckdb_agree_on_random_embeddings(spark, fuzz_dir, vecs):
    _COUNTER[0] += 1
    d = fuzz_dir / f"emb{_COUNTER[0]}"
    d.mkdir()
    rows = []
    for i, v in enumerate(vecs):
        fv = [x / 8.0 for x in v]
        if all(x == 0.0 for x in fv):
            fv[i % 64] = 1.0  # avoid zero vectors (cosine undefined)
        rows.append((i, fv, i % 4))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    for name in EMBEDDING_QUERIES:
        sdf = eq.QUERIES[name](spark, str(d)).toPandas()
        odf = con.execute(eq.ORACLE_SQL[name]).fetchdf()
        assert sorted(sdf.columns) == sorted(odf.columns), name
        a, b = _norm(sdf), _norm(odf)
        _assert_match(name, a, b)
    con.close()
