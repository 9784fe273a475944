"""ANN similarity-search tests: brute force, SRP-LSH, IVF, near-dup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.pipeline import similarity as sim

DIM = 16


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    rows = []
    # cluster A around +e0, cluster B around -e0
    for i in range(30):
        center = np.zeros(DIM)
        center[0] = 1.0 if i < 15 else -1.0
        v = center + rng.normal(scale=0.05, size=DIM)
        rows.append((i, [float(x) for x in v]))
    # vec 100 = near-exact copy of vec 0
    base = rows[0][1]
    rows.append((100, [x + 1e-4 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _probe(vectors):
    return [r.embedding for r in vectors.filter(F.col("vec_id") == 0).collect()][0]


def test_brute_force_topk(vectors):
    probe = _probe(vectors)
    out = sim.brute_force_topk(vectors.filter(F.col("vec_id") != 0), probe, k=5).collect()
    assert len(out) == 5
    assert out[0].vec_id == 100  # the near-copy is rank 1
    assert out[0].cos_sim > 0.999
    sims = [r.cos_sim for r in out]
    assert sims == sorted(sims, reverse=True)
    # all top-5 from cluster A
    assert all(r.vec_id < 15 or r.vec_id == 100 for r in out)


def test_srp_lsh_topk_recall(vectors):
    probe = _probe(vectors)
    exact = [r.vec_id for r in sim.brute_force_topk(
        vectors.filter(F.col("vec_id") != 0), probe, k=5).collect()]
    approx = [r.vec_id for r in sim.srp_lsh_topk(
        vectors.filter(F.col("vec_id") != 0), probe, k=5, num_planes=8,
        multiprobe_bits=2).collect()]
    # tight clusters: LSH with multiprobe should recover most of top-5
    overlap = len(set(exact) & set(approx))
    assert overlap >= 3
    assert approx[0] == 100


def test_ivf_topk(vectors):
    probe = _probe(vectors)
    cent = sim.train_ivf_centroids(vectors, DIM, num_cells=2, sample_size=100)
    assert cent.shape == (2, DIM)
    out = sim.ivf_topk(vectors.filter(F.col("vec_id") != 0), probe, cent, k=5, nprobe=1)
    rows = out.collect()
    assert rows[0].vec_id == 100
    # nprobe=1 on 2 clean clusters still finds the whole A-cluster top-5
    exact = [r.vec_id for r in sim.brute_force_topk(
        vectors.filter(F.col("vec_id") != 0), probe, k=5).collect()]
    assert set(r.vec_id for r in rows) == set(exact)


def test_embedding_near_dup(vectors):
    pairs = sim.embedding_near_dup_pairs(vectors, threshold=0.999).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 100) in got
    for r in pairs:
        assert r.cos_sim >= 0.999


def test_embedding_near_dup_duplicate_free_without_distinct(vectors):
    """Round-11 pin: each row carries exactly one srp_sig, so a pair
    can meet in at most one bucket — the join output is duplicate-free
    by construction and the operator no longer pays a distinct
    exchange to guarantee it."""
    pairs = sim.embedding_near_dup_pairs(vectors, threshold=0.9)
    assert pairs.count() == pairs.distinct().count()


def test_srp_signature_deterministic(vectors):
    s1 = {r.vec_id: r.srp_sig for r in sim.with_srp_signature(vectors, DIM, 12, seed=42).collect()}
    s2 = {r.vec_id: r.srp_sig for r in sim.with_srp_signature(vectors, DIM, 12, seed=42).collect()}
    assert s1 == s2
    assert s1[0] == s1[100]  # near-identical vectors share the bucket


def test_near_dup_dense_bucket_cap(spark):
    """A degenerate bucket (many identical vectors -> one SRP signature)
    must be dropped by max_bucket_size BEFORE pair expansion - the
    at-scale guard against a single quadratic reducer."""
    rows = [(i, [1.0] + [0.0] * (DIM - 1)) for i in range(50)]  # one bucket
    rows += [(100, [0.0] * (DIM - 1) + [1.0]), (101, [1e-6] + [0.0] * (DIM - 2) + [1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = sim.embedding_near_dup_pairs(df, threshold=0.999, max_bucket_size=10).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    # the 50-member dense bucket contributes nothing...
    assert not any(a < 50 and b < 50 for a, b in got)
    # ...but the small bucket's pair survives
    assert (100, 101) in got
    # and without the cap the dense pairs are all there (50*49/2)
    uncapped = sim.embedding_near_dup_pairs(df, threshold=0.999).collect()
    assert len({(r.id_a, r.id_b) for r in uncapped
                if r.id_a < 50 and r.id_b < 50}) == 50 * 49 // 2


def test_ivf_centroids_order_invariant(spark):
    """Centroid training samples by seeded xxhash64(id), not scan order:
    reversing/shuffling the input yields identical centroids (the old
    head-of-scan .limit sample was order-biased)."""
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(200)]
    fwd = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rev = spark.createDataFrame(rows[::-1], "vec_id long, embedding array<double>")
    c1 = sim.train_ivf_centroids(fwd, DIM, num_cells=4, sample_size=50)
    c2 = sim.train_ivf_centroids(rev, DIM, num_cells=4, sample_size=50)
    np.testing.assert_array_equal(c1, c2)
    # and the sample is genuinely a subset selection, not the head:
    # a biased head-sample of the sorted-by-id input would only ever see
    # ids 0..49; the hash sample must pick some id >= 100
    sampled = (
        fwd.select("vec_id", F.xxhash64(F.col("vec_id"), F.lit(42)).alias("_h"))
        .orderBy("_h").limit(50).collect()
    )
    assert any(r.vec_id >= 100 for r in sampled)


def test_ann_planted_neighbor_recall(spark):
    """Both ANN paths must retrieve planted near-duplicates of the probe
    (recall assertion the rows-only driver check cannot express)."""
    rng = np.random.RandomState(11)
    base = rng.normal(size=DIM)
    rows = [(0, [float(x) for x in base])]
    # 5 planted near-neighbors of the probe
    for i in range(1, 6):
        rows.append((i, [float(x) for x in base + rng.normal(scale=1e-3, size=DIM)]))
    # 200 random distractors
    for i in range(10, 210):
        rows.append((i, [float(x) for x in rng.normal(size=DIM)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probe = [float(x) for x in base]
    rest = df.filter(F.col("vec_id") != 0)

    srp = {r.vec_id for r in sim.srp_lsh_topk(
        rest, probe, k=5, num_planes=8, multiprobe_bits=2).collect()}
    assert len(srp & {1, 2, 3, 4, 5}) >= 4  # recall >= 0.8

    cent = sim.train_ivf_centroids(rest, DIM, num_cells=4, sample_size=100)
    ivf = {r.vec_id for r in sim.ivf_topk(rest, probe, cent, k=5, nprobe=2).collect()}
    assert len(ivf & {1, 2, 3, 4, 5}) >= 4


def test_pq_codes_shape_and_range(vectors):
    books = sim.train_pq_codebooks(
        vectors, dim=DIM, m=4, ks=8, sample_size=100
    )
    assert books.shape == (4, 8, 4)
    rows = sim.with_pq_codes(vectors, books).select("pq_code").collect()
    for r in rows:
        assert len(r.pq_code) == 4
        assert all(1 <= c <= 8 for c in r.pq_code)  # 1-based codes


def test_pq_adc_finds_planted_near_copy(vectors):
    # vec 100 is a near-exact copy of vec 0: quantized to the same (or
    # adjacent) codes, it must rank first by asymmetric distance
    books = sim.train_pq_codebooks(
        vectors, dim=DIM, m=4, ks=8, sample_size=100
    )
    probe = _probe(vectors)
    top = sim.pq_adc_topk(
        vectors.filter(F.col("vec_id") != 0), probe, books, k=5
    ).collect()
    assert top[0].vec_id == 100
    # all of cluster A (same half-space) should dominate the top-5
    top_ids = {r.vec_id for r in top}
    assert all(i == 100 or i < 15 for i in top_ids)


def test_pq_adc_agrees_with_exact_on_cluster_membership(vectors):
    # ADC is approximate, but at this separation the top-10 must stay
    # inside the probe's cluster — the recall contract at test scale
    books = sim.train_pq_codebooks(
        vectors, dim=DIM, m=4, ks=8, sample_size=100
    )
    probe = _probe(vectors)
    rest = vectors.filter(F.col("vec_id") != 0)
    adc_ids = {r.vec_id for r in sim.pq_adc_topk(rest, probe, books, k=10).collect()}
    exact_ids = {r.vec_id for r in sim.brute_force_topk(rest, probe, k=10).collect()}
    assert len(adc_ids & exact_ids) >= 7  # recall@10 >= 0.7


def test_pq_codes_deterministic_and_partition_invariant(vectors):
    books = sim.train_pq_codebooks(
        vectors, dim=DIM, m=4, ks=8, sample_size=100
    )
    a = {
        r.vec_id: list(r.pq_code)
        for r in sim.with_pq_codes(vectors, books).collect()
    }
    b = {
        r.vec_id: list(r.pq_code)
        for r in sim.with_pq_codes(vectors.repartition(7), books).collect()
    }
    assert a == b


def test_embedding_outliers_flags_planted_vector(spark):
    from stac_fastapi_duckdb_spark.pipeline.similarity import embedding_outliers

    import random

    rng = random.Random(7)
    rows = []
    # 30 inliers tightly around [1, 0, 0]; one vector far away
    for i in range(30):
        rows.append(
            (i, [1.0 + rng.uniform(-0.01, 0.01), rng.uniform(-0.01, 0.01), 0.0], 1)
        )
    rows.append((99, [-5.0, 4.0, 3.0], 1))
    # a second clean label: no outliers
    for i in range(100, 110):
        rows.append((i, [0.0, 1.0 + rng.uniform(-0.01, 0.01), 0.0], 2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    out = {r.vec_id: r for r in embedding_outliers(df).collect()}
    assert out[99].is_outlier and out[99].z > 2.0
    flagged = [v for v, r in out.items() if r.is_outlier]
    assert flagged == [99]
    # the centroid is pulled toward the outlier, but the outlier's
    # distance still dwarfs every inlier's
    assert out[99].dist > 10 * out[0].dist


def test_embedding_outliers_constant_label_is_not_outlier(spark):
    from stac_fastapi_duckdb_spark.pipeline.similarity import embedding_outliers

    df = spark.createDataFrame(
        [(i, [1.0, 2.0], 7) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    out = embedding_outliers(df).collect()
    # zero stddev → z defined as 0, nothing flagged
    assert all(r.z == 0.0 and not r.is_outlier for r in out)


# ---------------------------------------------------------------------------
# semdedup
# ---------------------------------------------------------------------------

def test_semdedup_drops_near_identical_within_cluster(spark):
    import numpy as np

    from stac_fastapi_duckdb_spark.pipeline.similarity import semdedup

    # two well-separated clusters; ids 1,2,3 identical direction in
    # cluster A (2 and 3 must drop, witnessed by 1); id 10 alone in B
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0, 0.0]),
        (3, [1.5, 0.0, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    got = {r.drop_id: r for r in semdedup(df, cents, threshold=0.95).collect()}
    assert set(got) == {2, 3}
    assert got[2].keep_id == 1 and got[3].keep_id == 1
    assert got[2].cos_sim == 1.0
    assert got[2].cluster == 0 and got[3].cluster == 0


def test_semdedup_cluster_cap_bounds_pairs(spark):
    import numpy as np

    from stac_fastapi_duckdb_spark.pipeline.similarity import semdedup

    # one degenerate cluster of 5 identical vectors: with the cap below
    # the cluster size, the bucket is dropped entirely (skew guard)
    rows = [(i, [1.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    assert semdedup(df, cents, threshold=0.9, max_cluster_size=4).count() == 0
    assert semdedup(df, cents, threshold=0.9).count() == 4  # 1..4 drop


def test_cell_assignment_column_and_udf_agree(spark):
    # the pure-Column argmin (ivf_cell_col) and the vectorized numpy
    # assignment (with_ivf_cell) must be interchangeable: same float64
    # arithmetic, same first-min tie rule — pinned on real embeddings
    import numpy as np

    from stac_fastapi_duckdb_spark.pipeline.similarity import (
        ivf_cell_col,
        train_ivf_centroids,
        with_ivf_cell,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, dim=64, num_cells=8, sample_size=200)
    a = {r.vec_id: r.c for r in with_ivf_cell(emb, cents, out_col="c").select("vec_id", "c").collect()}
    b = {r.vec_id: r.c for r in emb.select("vec_id", ivf_cell_col(cents).alias("c")).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# distributed k-means (full-table Lloyd)
# ---------------------------------------------------------------------------

def test_lloyd_round_moves_centroids_to_cluster_means(vectors, spark):
    # init from one member of each true cluster: one round should land
    # each centroid on (approximately) its cluster's mean
    init = np.array(
        [r.embedding for r in vectors.filter(F.col("vec_id").isin(0, 15)).orderBy("vec_id").collect()]
    )
    cent, sse = sim.lloyd_round(vectors, init)
    assert cent.shape == init.shape
    assert sse > 0
    # cluster A centered near +e0, B near -e0
    assert cent[0][0] > 0.9 and cent[1][0] < -0.9


def test_train_kmeans_sse_monotone_and_converges(vectors):
    cent, history = sim.train_kmeans(vectors, k=2, dim=DIM, iters=8, seed=3)
    assert len(history) >= 1
    # Lloyd's invariant: SSE never increases round over round
    assert all(b <= a + 1e-9 for a, b in zip(history, history[1:]))
    # the two learned centroids separate the planted clusters
    signs = sorted(np.sign(cent[:, 0]))
    assert signs == [-1.0, 1.0]


def test_kmeans_assign_matches_numpy_argmin(vectors):
    init = np.array(
        [r.embedding for r in vectors.filter(F.col("vec_id").isin(0, 15)).orderBy("vec_id").collect()]
    )
    got = {
        r.vec_id: r.cell
        for r in sim.kmeans_assign(vectors, init).select("vec_id", "cell").collect()
    }
    rows = vectors.collect()
    for r in rows:
        d = ((np.asarray(r.embedding)[None, :] - init) ** 2).sum(axis=1)
        assert got[r.vec_id] == int(d.argmin())


def test_train_kmeans_empty_input_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        sim.train_kmeans(empty, k=2, dim=DIM)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection
# ---------------------------------------------------------------------------


def test_jl_projection_matches_numpy_matmul(spark):
    import numpy as np

    from stac_fastapi_duckdb_spark.pipeline.similarity import (
        jl_matrix,
        jl_project,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(20, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.pos): r.val
        for r in jl_project(df, dim=64, out_dim=16).collect()
    }
    m = np.array(jl_matrix(16, 64), dtype=np.float64)
    want = vecs.astype(np.float64) @ m.T
    assert len(got) == 20 * 16
    for (i, j), v in got.items():
        assert abs(v - want[i, j]) < 2e-6


def test_jl_projection_preserves_distances_loosely(spark):
    import numpy as np

    from stac_fastapi_duckdb_spark.pipeline.similarity import jl_matrix

    # the JL statement itself, checked directly on the frozen matrix:
    # squared-distance ratios concentrate around 1 for random pairs
    rng = np.random.default_rng(9)
    a = rng.normal(size=(200, 64))
    b = rng.normal(size=(200, 64))
    m = np.array(jl_matrix(16, 64), dtype=np.float64)
    orig = ((a - b) ** 2).sum(axis=1)
    proj = (((a - b) @ m.T) ** 2).sum(axis=1)
    ratio = proj / orig
    assert 0.8 < np.median(ratio) < 1.25
    assert (ratio > 0.2).all() and (ratio < 3.0).all()


def test_jl_projection_matches_duckdb_oracle(spark):
    # the batched numpy kernel against the DuckDB replay of the same
    # frozen matrix (ORACLE_SQL["jl_projection"]), with the value
    # normalization tools/oracle_check.py applies: columns sorted by
    # name, floats to 6 decimals, NaN/None as NULL, rows sorted
    import math

    import duckdb

    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    sf = "/root/testdata/sf0.001"

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        out = []
        for tup in df.itertuples(index=False):
            out.append("|".join(
                "NULL" if v is None or (isinstance(v, float) and math.isnan(v))
                else f"{v:.6f}" if isinstance(v, float) else str(v)
                for v in tup
            ))
        return sorted(out)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    sdf = eq.QUERIES["jl_projection"](spark, sf).toPandas()
    odf = con.execute(eq.ORACLE_SQL["jl_projection"]).fetchdf()
    con.close()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) > 0
    assert norm(sdf) == norm(odf)


def test_jl_projection_arrow_handles_null_and_ragged_rows(spark):
    # malformed input contract (r11 advisory): a null or wrong-width
    # embedding must project to null vals — the arrow kernel masks
    # those rows instead of crashing in np.stack
    from stac_fastapi_duckdb_spark.pipeline.similarity import jl_matrix, jl_project

    rows = [
        (0, [float(i) for i in range(8)]),
        (1, None),
        (2, [1.0, 2.0]),  # ragged: width 2 instead of 8
        (3, [float(i + 1) for i in range(8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_id, r.pos): r.val
        for r in jl_project(df, dim=8, out_dim=4).collect()
    }
    assert all(got[(1, j)] is None for j in range(4))
    assert all(got[(2, j)] is None for j in range(4))
    # the well-formed rows around them still project exactly
    m = np.array(jl_matrix(4, 8), dtype=np.float64)
    for vid, vec in (rows[0], rows[3]):
        want = np.round(m @ np.asarray(vec), 6)
        assert np.allclose([got[(vid, j)] for j in range(4)], want, atol=1e-6)


def test_ivfpq_composes_cell_pruning_with_adc(spark):
    """IVF-PQ must equal PQ-ADC restricted to the nprobe nearest
    cells — the composition introduces no new approximation beyond
    its two stages."""
    import numpy as np

    from stac_fastapi_duckdb_spark.pipeline import similarity as sim
    from stac_fastapi_duckdb_spark.plans.ivf_index import IVF_CENTROIDS
    from stac_fastapi_duckdb_spark.plans.pq_index import PQ_CODEBOOKS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probe = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    rest = emb.filter(F.col("vec_id") != 0)
    cents = np.asarray(IVF_CENTROIDS, dtype=np.float64)
    books = np.asarray(PQ_CODEBOOKS, dtype=np.float64)

    got = sim.ivfpq_topk(rest, probe, cents, books, k=10, nprobe=4).collect()

    pv = np.asarray(probe)
    order = (((cents - pv[None, :]) ** 2).sum(axis=1)).argsort()[:4]
    manual = sim.pq_adc_topk(
        sim.with_ivf_cell(rest, cents).filter(
            F.col("ivf_cell").isin([int(c) for c in order])
        ),
        probe,
        books,
        k=10,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in manual]
    # and the scan actually prunes: candidate count < corpus count
    n_cand = (
        sim.with_ivf_cell(rest, cents)
        .filter(F.col("ivf_cell").isin([int(c) for c in order]))
        .count()
    )
    assert n_cand < rest.count()


# ---------------------------------------------------------------- mmr_rerank


@pytest.fixture(scope="module")
def mmr_vecs(spark):
    # probe sits between +x and +y; ids 1 and 2 both hug +x (2 slightly
    # closer to the probe), id 3 is the +y axis (equally relevant as 1,
    # maximally diverse from 2), id 4 is opposite
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_mmr_diversity_beats_redundancy(mmr_vecs):
    probe = [0.7, 0.7, 0.0]
    out = sim.mmr_rerank(mmr_vecs, probe, k=3, pool=4, lam=0.5).collect()
    picks = [r.vec_id for r in out]
    # pure relevance would pick (2, 1, 3); MMR at lam=0.5 penalizes 1
    # (cos(1,2) ≈ 0.995) below the diverse 3
    assert picks == [2, 3, 1]
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_mmr_lam_one_is_pure_relevance(mmr_vecs):
    probe = [0.7, 0.7, 0.0]
    out = sim.mmr_rerank(mmr_vecs, probe, k=4, pool=4, lam=1.0).collect()
    # ids 1 and 3 tie on relevance at 6dp → ascending-id tie-break
    assert [r.vec_id for r in out] == [2, 1, 3, 4]
    # with lam=1 the blend IS the relevance
    assert all(abs(r.mmr_score - r.rel) < 1e-12 for r in out)


def test_mmr_k_exceeds_pool_returns_all(mmr_vecs):
    out = sim.mmr_rerank(mmr_vecs, [0.7, 0.7, 0.0], k=10, pool=2).collect()
    assert len(out) == 2


def test_mmr_scores_monotone_nonincreasing_in_rank_is_not_required(mmr_vecs):
    # MMR scores are NOT monotone across rounds (the penalty grows);
    # assert the contract that matters instead: ranks are 1..n unique
    # and every selected id is distinct
    out = sim.mmr_rerank(mmr_vecs, [0.7, 0.7, 0.0], k=4, pool=4).collect()
    assert sorted(r["rank"] for r in out) == [1, 2, 3, 4]
    assert len({r.vec_id for r in out}) == 4


# ------------------------------------------- IVF partitioned serving layout


def test_ivf_layout_partition_pruned_serving(vectors, tmp_path):
    """The partitioned IVF layout must (a) return exactly the same
    top-k as the on-the-fly cell filter, (b) show the cell IN-list as
    PartitionFilters in the scan (directory pruning, not row filter),
    and (c) actually read only the probed cells' files."""
    spark = vectors.sparkSession
    probe = _probe(vectors)
    rest = vectors.filter(F.col("vec_id") != 0)
    cent = sim.train_ivf_centroids(rest, DIM, num_cells=4, sample_size=100)
    path = str(tmp_path / "ivf")
    sim.write_ivf_layout(rest, cent, path)

    served = sim.ivf_topk_from_layout(spark, path, probe, cent, k=5, nprobe=2)
    direct = sim.ivf_topk(rest, probe, cent, k=5, nprobe=2)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in direct.collect()
    ]

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "ivf_cell" in pf and ("IN" in pf or "in(" in pf.lower())

    # only the probed cells' directories are touched: the executed
    # scan's numFiles metric (post-pruning) must be a strict subset of
    # the full layout (inputFiles() lists the relation PRE-pruning, so
    # it can't be used here)
    def _num_files(df):
        df.collect()
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().head()
        return leaf.metrics().apply("numFiles").value()

    pruned = _num_files(
        sim.ivf_topk_from_layout(spark, path, probe, cent, k=5, nprobe=2)
    )
    full = _num_files(spark.read.parquet(path).select("vec_id"))
    assert 0 < pruned < full
