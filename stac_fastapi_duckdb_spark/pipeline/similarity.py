"""Approximate-nearest-neighbor search over an embedding column.

Three tiers, all returning the same (vec_id, cos_sim) shape:

- **brute_force_topk** — exact baseline. Broadcast the probe vector,
  JVM-side fold for the dot product (functions/vectors.py), global
  top-k via orderBy+limit (TakeOrderedAndProject: per-partition heap +
  single merge — already the optimal distributed plan; no shuffle of
  the full table).
- **srp_lsh buckets** — random-hyperplane (SRP) signatures: sign-bit
  sketch of ``num_planes`` projections, computed in one vectorized
  pandas UDF (numpy matmul per Arrow batch). Probe hits only its own
  bucket (plus optional multi-probe neighbors) — the scale path where
  scanning every vector is off the table.
- **ivf_topk** — inverted-file index: coarse centroids from a driver
  k-means over a bounded sample, assignment via the same matmul UDF,
  probe searches the ``nprobe`` nearest cells only.

The plane/centroid matrices are seeded (deterministic) and broadcast
via UDF closure — kilobytes, not data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from stac_fastapi_duckdb_spark.functions import vectors as V


def brute_force_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal probe vector."""
    probe_lit = F.array(*[F.lit(float(x)) for x in probe])
    return (
        df.select(
            F.col(id_col),
            F.round(
                V.cosine_similarity(F.col(vec_col), probe_lit), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _srp_planes(dim: int, num_planes: int, seed: int) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(num_planes, dim)).astype(np.float64)


def _signature_udf(planes: np.ndarray):
    @F.pandas_udf(LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes.T) > 0  # (batch, planes)
        weights = (1 << np.arange(bits.shape[1], dtype=np.uint64))
        return pd.Series((bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64))

    return _sig


def with_srp_signature(
    df: DataFrame,
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "srp_sig",
) -> DataFrame:
    """Attach the random-hyperplane signature bucket key."""
    from stac_fastapi_duckdb_spark.pipeline.dedup import ensure_parallelism

    return ensure_parallelism(df).withColumn(
        out_col, _signature_udf(_srp_planes(dim, num_planes, seed))(F.col(vec_col))
    )


def srp_lsh_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    num_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """ANN top-k scanning only the probe's SRP bucket (+ buckets within
    ``multiprobe_bits`` sign flips — multi-probe recovers recall lost to
    quantization). At scale: bucket column is a join/partition key, so
    the scan prunes to ~n/2^planes rows per probe."""
    planes = _srp_planes(len(probe), num_planes, seed)
    pv = np.asarray(probe, dtype=np.float64)
    pbits = (planes @ pv) > 0
    weights = 1 << np.arange(num_planes, dtype=np.uint64)
    psig = int((pbits.astype(np.uint64) * weights).sum())

    sigs = {psig}
    if multiprobe_bits >= 1:
        for i in range(num_planes):
            sigs.add(psig ^ (1 << i))
    if multiprobe_bits >= 2:
        for i in range(num_planes):
            for j in range(i + 1, num_planes):
                sigs.add(psig ^ (1 << i) ^ (1 << j))

    bucketed = with_srp_signature(df, len(probe), num_planes, seed, vec_col)
    candidates = bucketed.filter(F.col("srp_sig").isin([int(s) for s in sigs]))
    return brute_force_topk(candidates, probe, k, id_col, vec_col)


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    num_cells: int = 16,
    sample_size: int = 10000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Coarse quantizer: k-means on a bounded driver-side sample.

    The sample is capped (``sample_size``) so this is O(sample) on the
    driver regardless of table size — the standard IVF training shape.
    The sample is the ``sample_size`` rows with smallest seeded
    ``xxhash64(id)`` — a scan-order-invariant pseudorandom draw (plain
    ``.limit`` would take the head of the scan, which on clustered or
    sorted data yields unrepresentative centroids). Spark plans the
    orderBy+limit as TakeOrdered (per-partition heap, no full sort).
    """
    rows = (
        df.select(vec_col, F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(sample_size)
        .toPandas()[vec_col]
    )
    x = np.stack(rows.to_numpy()).astype(np.float64)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(num_cells, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            mask = assign == c
            if mask.any():
                cent[c] = x[mask].mean(axis=0)
    return cent


def _assign_udf(centroids: np.ndarray):
    @F.pandas_udf(LongType())
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        d = ((m[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    return _assign


def with_ivf_cell(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding", out_col: str = "ivf_cell"
) -> DataFrame:
    """Attach the IVF cell id. Persist/partition the table by this
    column so probes prune to nprobe cells (partition pruning at scale)."""
    return df.withColumn(out_col, _assign_udf(centroids)(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    probe: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """ANN top-k over the ``nprobe`` cells nearest to the probe. If the
    cell column is absent it is computed on the fly (tests); in
    production it is precomputed + used as the partition key."""
    pv = np.asarray(probe, dtype=np.float64)
    order = (((centroids - pv[None, :]) ** 2).sum(axis=1)).argsort()[:nprobe]
    if cell_col not in df.columns:
        df = with_ivf_cell(df, centroids, vec_col, cell_col)
    candidates = df.filter(F.col(cell_col).isin([int(c) for c in order]))
    return brute_force_topk(candidates, probe, k, id_col, vec_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Cosine ≥ τ pairs: SRP-bucket self-join (near-identical vectors
    share sign bits with high probability) + exact verify in-bucket.
    → (id_a, id_b, cos_sim)."""
    from pyspark.sql.window import Window

    first = df.limit(1).select(F.size(vec_col).alias("d")).collect()
    if not first:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos_sim double"
        )
    dim = first[0]["d"]
    # skew guard (same as the minhash/simhash bucket joins): a single
    # dense bucket — boilerplate-identical or highly correlated
    # embeddings — would otherwise go quadratic on one reducer at scale.
    # Degenerate buckets are dropped BEFORE the pair expansion.
    # The repartition on the bucket key comes BEFORE the window (round
    # 11): the explicit hash repartition satisfies the window's
    # ClusteredDistribution(srp_sig), so the bucketed table crosses the
    # network ONCE (previously window-exchange + repartition-exchange),
    # and that single exchange is the shuffle child both self-join
    # sides reuse (AQE ReusedExchange) — the signature UDF runs once.
    bucketed = (
        with_srp_signature(df, dim, num_planes, seed, vec_col)
        .repartition("srp_sig")
        .withColumn(
            "_bucket_n", F.count(F.lit(1)).over(Window.partitionBy("srp_sig"))
        )
        .filter(F.col("_bucket_n") <= max_bucket_size)
        .drop("_bucket_n")
    )
    from stac_fastapi_duckdb_spark.pipeline.dedup import shj_hint

    # SHUFFLE_HASH (round 11): at toy scale the size estimates turn
    # this self-join into a BROADCAST join whose build side re-derives
    # the whole signature chain (the UDF runs twice); the hint keeps
    # both sides on the single srp_sig repartition exchange above (AQE
    # stage reuse) — see dedup.shj_hint for the caveat + escape hatch.
    a = shj_hint(bucketed.select(
        F.col("srp_sig"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    ))
    b = shj_hint(bucketed.select(
        F.col("srp_sig"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    ))
    # no post-verify distinct (round 11): each row carries exactly ONE
    # srp_sig, so a pair can meet in at most one bucket — the join
    # output is duplicate-free by construction (ids are unique per the
    # id_col contract) and the old .distinct() paid a full exchange +
    # hash-aggregate to dedupe a stream with no duplicates.
    return (
        a.join(b, "srp_sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(V.cosine_similarity("_va", "_vb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_cell_col(centroids: np.ndarray, vec_col: str = "embedding"):
    """PURE-Column coarse-cell assignment: 0-based argmin of exact L2
    distance over the centroid literals — the UDF-free twin of
    ``_assign_udf`` (same float64 arithmetic, same first-min tie rule),
    with the same sequential-fold op order the SQL oracles replay.

    Use when Python workers/Arrow are unavailable or for small
    centroid sets fused into a larger projection. For the hot
    assignment path prefer ``with_ivf_cell``: interpreted HOF
    evaluation makes this expression ~30× slower at 16 cells × 64 dims
    (A/B in PERF.md) — the numpy matmul batch UDF wins decisively.
    ``tests/test_similarity.py`` pins that both assignments agree."""
    num_cells, dim = centroids.shape
    v = F.col(vec_col)
    cents = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in centroids[c]])
            for c in range(num_cells)
        ]
    )

    def _dist(cent):
        def _diff(i):
            return F.element_at(v, i).cast("double") - F.element_at(cent, i)

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0.0),
            lambda acc, i: acc + _diff(i) * _diff(i),
        )

    dists = F.transform(cents, _dist)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("long")


def semdedup(
    df: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "sem_cluster",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with a FROZEN coarse
    quantizer (the k-means index artifact — same shape as the IVF
    centroids) and, within each cluster, dropping every vector that is
    cosine-≥-τ similar to a lower-id cluster-mate.

    → one row per DROPPED vector: (drop_id, keep_id, cluster, cos_sim)
    where keep_id is the LOWEST-id cluster-mate covering it (and
    cos_sim that pair's similarity) — a deterministic contract the SQL
    oracle replays exactly.

    Scale shape — exactly the paper's: ONE shuffle on the cluster key,
    then the within-cluster pairwise similarity as a dense float64
    GEMM per cluster inside an Arrow-batched ``applyInPandas`` kernel.
    The pair matrix never materializes as Spark rows — only the
    (drop, keep) survivors leave the kernel. This replaced a
    DataFrame self-join + per-pair Column-fold cosine that was 30×
    slower at sf0.1 (interpreted higher-order-function evaluation per
    pair — the same cost cliff PERF.md documents for minhash; a GEMM
    does the identical 64-dim dot products at memory bandwidth).
    Clusters larger than ``max_cluster_size`` are skipped whole inside
    the kernel (the skew guard every bucketed dedup here applies —
    bounded memory per task; at the paper's scale the cap is the
    per-GPU batch bound).
    """
    import pandas as pd

    if cell_col not in df.columns:
        # vectorized numpy assignment; the groupBy exchange right above
        # it means the UDF runs once per row
        df = with_ivf_cell(df, centroids, vec_col, cell_col)

    thr = float(threshold)
    cap = int(max_cluster_size)

    def _cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "drop_id": pd.Series(dtype="int64"),
                "keep_id": pd.Series(dtype="int64"),
                "cluster": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2 or n > cap:
            return empty
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf[vec_col].to_numpy())[order].astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = (m @ m.T) / np.outer(norms, norms)
        # HALF_UP at 6 decimals (matches Spark F.round / SQL ROUND for
        # the positive values that can survive the threshold; numpy's
        # own round() is half-even and would diverge on exact .5s)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        qual = np.triu(sims >= thr, k=1)  # [i, j]: i < j in id order
        dropped = qual.any(axis=0)
        j_idx = np.nonzero(dropped)[0]
        i_idx = qual[:, j_idx].argmax(axis=0)  # first True = lowest keep_id
        cell = int(pdf[cell_col].iloc[0])
        return pd.DataFrame(
            {
                "drop_id": ids[j_idx],
                "keep_id": ids[i_idx],
                "cluster": np.full(len(j_idx), cell, dtype="int64"),
                "cos_sim": sims[i_idx, j_idx],
            }
        )

    return df.groupBy(cell_col).applyInPandas(
        _cluster_dups,
        "drop_id long, keep_id long, cluster long, cos_sim double",
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def train_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    sample_size: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Per-subspace codebooks ``(m, ks, dim//m)``: split each vector
    into ``m`` subvectors, k-means each subspace independently on a
    bounded, scan-order-invariant sample (same xxhash64 draw as IVF
    training). A 100 TB embedding table compresses to ``m`` small-int
    codes per row (64 floats → 8 nibbles here) — the memory/IO lever
    that makes billion-vector search fit a cluster's RAM.
    """
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    dsub = dim // m
    rows = (
        df.select(vec_col, F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(sample_size)
        .toPandas()[vec_col]
    )
    if len(rows) == 0:
        raise ValueError("train_pq_codebooks: empty sample (no input rows)")
    x = np.stack(rows.to_numpy()).astype(np.float64)
    rng = np.random.RandomState(seed)
    books = np.empty((m, ks, dsub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=min(ks, len(sub)), replace=False)]
        for _ in range(iters):
            d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cent)):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        if len(cent) < ks:
            # sample smaller than ks: tile centroids so the codebook keeps
            # its (m, ks, dsub) shape (duplicate codes are harmless — the
            # argmin just always picks the first occurrence)
            cent = np.resize(cent, (ks, dsub))
        books[j] = cent
    return books


def pq_code_col(
    codebooks: np.ndarray, vec_col: str = "embedding"
):
    """``array<int>`` of ``m`` codes — PURE Column algebra over literal
    codebook arrays, no Python in the row path. For each subspace the
    squared distance to every centroid is a left-to-right ``aggregate``
    fold; the code is the first index attaining the minimum. The
    identical expression structure is what the DuckDB oracle replays
    (same IEEE ops in the same order → bit-identical distances → the
    same argmin, including ties)."""
    m, ks, dsub = codebooks.shape
    v = F.col(vec_col)
    codes = []
    for j in range(m):
        # codebook of subspace j as ONE array<array<double>> literal;
        # per-centroid distance references the lambda variable — keeps
        # the expression tree (and generated code) small
        cbj = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in codebooks[j, c]])
                for c in range(ks)
            ]
        )
        def _mk_dists(off):
            # closure factory: the HOF lambdas must have EXACTLY the
            # arity Spark expects (defaulted params count against it)
            def _d(cent):
                def _diff(i):
                    return F.element_at(v, F.lit(off) + i) - F.element_at(
                        cent, i
                    )

                return F.aggregate(
                    F.sequence(F.lit(1), F.lit(dsub)),
                    F.lit(0.0),
                    lambda acc, i: acc + _diff(i) * _diff(i),
                )

            return _d

        dists = F.transform(cbj, _mk_dists(j * dsub))
        codes.append(F.array_position(dists, F.array_min(dists)).cast("int"))
    return F.array(*codes)  # 1-based codes (match SQL list_position)


def with_pq_codes(
    df: DataFrame, codebooks: np.ndarray, vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-code PQ encoding (persist this next to — or instead
    of — the raw vectors; 8 small ints replace 64 floats)."""
    return df.withColumn(out_col, pq_code_col(codebooks, vec_col))


def _adc_lut(probe: list[float], codebooks: np.ndarray) -> list[list[float]]:
    """The per-query ADC lookup table (m × ks squared distances from
    the probe's subvectors to every codebook centroid), built in plain
    Python sequential arithmetic — (p-c)*(p-c) summed left-to-right —
    matching the SQL oracle's list_sum order exactly."""
    m, ks, dsub = codebooks.shape
    return [
        [
            sum(
                (probe[j * dsub + i] - float(codebooks[j, c, i]))
                * (probe[j * dsub + i] - float(codebooks[j, c, i]))
                for i in range(dsub)
            )
            for c in range(ks)
        ]
        for j in range(m)
    ]


def pq_adc_topk(
    df: DataFrame,
    probe: list[float],
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate top-k by asymmetric distance: the probe is compared
    against each row's PQ codes through a per-query lookup table
    (``m × ks`` floats, built once driver-side in plain sequential
    float arithmetic so the oracle's SQL reproduces it bitwise). Per
    row the distance is ``m`` table lookups + adds inside codegen —
    no vector math touches the scan. → (vec_id, adc_dist).

    If ``code_col`` is absent the codes are derived on the fly (tests);
    at scale they are precomputed by ``with_pq_codes``.
    """
    m, ks, dsub = codebooks.shape
    lut = _adc_lut(probe, codebooks)
    if code_col not in df.columns:
        df = with_pq_codes(df, codebooks, vec_col, code_col)
    lut_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in lut]
    )
    dist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(lut_lit, j), F.element_at(F.col(code_col), j)
        ),
    )
    # floor-based half-up rounding, NOT F.round: Spark's ROUND rounds
    # the exact decimal expansion (BigDecimal HALF_UP) while DuckDB's
    # rounds in floating point — the same double can land on opposite
    # sides of a 6th-decimal boundary (caught by the embeddings
    # differential fuzzer). floor(x·1e6 + 0.5)/1e6 is pure IEEE
    # arithmetic, so with bit-identical distances (this operator's
    # design invariant) the rounded value is bit-identical too.
    # adc_dist >= 0 always, so floor-half-up == half-up.
    rounded = F.floor(dist * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        df.select(F.col(id_col), rounded.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    z_thresh: float = 2.0,
) -> DataFrame:
    """Embedding quality control: flag vectors whose distance to their
    label's centroid is a z-score outlier — the standard screen for
    mislabeled / corrupt / degenerate embeddings before they enter a
    training mix.

    Scale shape: the centroid is an elementwise mean computed by
    posexplode → (label, dim) partial aggregate — map-side combine
    reduces each partition to ``labels × dim`` cells before the one
    shuffle, independent of row count. Centroids (labels × dim doubles,
    kilobytes) come back broadcast; the distance pass is map-only JVM
    fold; per-label mean/std of the distances is a window over the
    label key (second small shuffle). No Python, no UDFs.

    Determinism contract: centroid components and distances are rounded
    to 6 decimals (mean-of-doubles is order-sensitive at the ulp level;
    rounding pins both engines to identical values), z to 4.
    """
    dbl = F.col("_v").cast("double")
    cent = (
        df.select(F.col(label_col).alias("_l"), F.posexplode(vec_col).alias("_p", "_v"))
        .groupBy("_l", "_p")
        .agg(F.round(F.avg(dbl), 6).alias("_c"))
        .groupBy("_l")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_c"))),
                lambda s: s["_c"],
            ).alias("_centroid")
        )
    )
    with_dist = (
        df.join(F.broadcast(cent), df[label_col] == cent["_l"])
        .select(
            id_col,
            label_col,
            F.round(V.l2_distance(vec_col, "_centroid"), 6).alias("dist"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(label_col)
    mean_d = F.avg("dist").over(w)
    std_d = F.stddev("dist").over(w)
    z = F.when(std_d > 0, (F.col("dist") - mean_d) / std_d).otherwise(F.lit(0.0))
    # + 0.0 normalizes IEEE negative zero: a z in (-5e-5, 0) rounds to
    # -0.0, which engines format as "-0.0000" vs "0.0000" inconsistently
    zr = F.round(z, 4) + F.lit(0.0)
    return with_dist.select(
        id_col,
        label_col,
        "dist",
        zr.alias("z"),
        (zr > z_thresh).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's algorithm over the FULL table)
# ---------------------------------------------------------------------------

def kmeans_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment (squared L2, argmin ties → lowest
    cell index) against a broadcast centroid matrix — the map-only half
    of a Lloyd round. Vectorized pandas UDF: one Arrow batch → one
    (batch × k) GEMM-shaped distance computation."""
    return df.withColumn(out_col, _assign_udf(centroids)(F.col(vec_col)))


def lloyd_round(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, float]:
    """ONE distributed Lloyd iteration over the FULL table (unlike
    ``train_ivf_centroids``, which iterates on a driver sample):
    → (updated centroids, total within-cluster SSE before the update).

    Scale shape: assignment is map-only; the centroid update is a
    single ``groupBy cell`` with ``dim`` avg aggregates + count + SSE
    sum — partial aggregation reduces every partition to at most
    ``k × (dim+2)`` cells before the one narrow shuffle, and the driver
    receives exactly ``k`` rows regardless of table size. Empty cells
    keep their previous centroid (the standard Lloyd convention).
    """
    k, dim = centroids.shape
    assigned = kmeans_assign(df, centroids, vec_col, "_cell")
    cent_lit = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in centroids[c]])
            for c in range(k)
        ]
    )
    own = F.element_at(cent_lit, F.col("_cell").cast("int") + 1)
    sse = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            own,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = (
        assigned.groupBy("_cell")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(sse).alias("_sse"),
            *[
                F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(
                    f"_m{i}"
                )
                for i in range(dim)
            ],
        )
        .collect()
    )
    out = centroids.astype(np.float64).copy()
    total_sse = 0.0
    for r in rows:
        total_sse += r["_sse"]
        out[int(r["_cell"])] = [r[f"_m{i}"] for i in range(dim)]
    return out, total_sse


def train_kmeans(
    df: DataFrame,
    k: int,
    dim: int,
    iters: int = 10,
    tol: float = 1e-6,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, list[float]]:
    """Full-table distributed k-means: scan-order-invariant seeded init
    (the ``k`` rows with smallest ``xxhash64(id, seed)`` — same draw as
    IVF training) then up to ``iters`` Lloyd rounds with early stop on
    relative SSE improvement < ``tol``. → (centroids, SSE-per-round).

    Each round is one map-only assignment + one k-row shuffle; total
    driver traffic is ``iters × k × dim`` doubles. This is the
    cluster-scale trainer behind semdedup/IVF when a driver sample
    isn't representative (multi-tenant corpora, heavy label skew).
    """
    init_rows = (
        df.select(vec_col, F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(k)
        .toPandas()[vec_col]
    )
    if len(init_rows) == 0:
        raise ValueError("train_kmeans: empty input")
    cent = np.stack(init_rows.to_numpy()).astype(np.float64)
    if len(cent) < k:
        cent = np.resize(cent, (k, dim))
    history: list[float] = []
    for _ in range(iters):
        cent, sse = lloyd_round(df, cent, vec_col)
        history.append(sse)
        if len(history) >= 2 and history[-2] > 0:
            if (history[-2] - history[-1]) / history[-2] < tol:
                break
    return cent, history


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection
# ---------------------------------------------------------------------------


def jl_matrix(out_dim: int, dim: int, seed: int = 7) -> list[list[float]]:
    """The frozen Gaussian projection matrix (out_dim × dim), entries
    drawn from N(0, 1/out_dim) with a seeded RNG and rounded to 9
    decimals so BOTH engines inline the identical double literals —
    the same frozen-artifact contract as the IVF centroids and PQ
    codebooks (plans/ivf_index.py, plans/pq_index.py)."""
    rng = np.random.RandomState(seed)
    m = np.round(rng.normal(size=(out_dim, dim)) / np.sqrt(out_dim), 9)
    return [[float(x) for x in row] for row in m]


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Johnson-Lindenstrauss projection to ``out_dim`` dimensions, in
    long form ``(id, pos, val)``.

    JL lemma: a Gaussian random projection to O(log n / eps²) dims
    preserves pairwise distances within (1±eps) — the standard
    dimensionality cut BEFORE clustering / ANN / dedup when the raw
    embedding width makes those shuffles expensive: at 100 TB,
    projecting 768→64 dims cuts every downstream vector shuffle and
    GEMM by 12× for a bounded, provable distortion.

    Spark shape: map-only on already-wide inputs, but may insert ONE
    repartition exchange on narrow inputs (ensure_parallelism fans a
    single-row-group scan across cores before the kernel). Rounding and
    the ``+ 0.0`` IEEE −0.0 normalization run JVM-side.

    The fold runs as ONE vectorized numpy kernel per Arrow batch —
    sequential over the input dimension j (``acc += v[:, j] * m[:, j]``),
    the left-fold order of a per-row dot product, computed for the
    whole batch × all output dims at once. Per-row interpreted
    higher-order folds (``aggregate(zip_with(...))``) never enter
    whole-stage codegen and cost ~1.8 s at sf0.1 for a 2 M-flop
    projection.
    """
    from pyspark.sql.types import ArrayType, DoubleType

    from stac_fastapi_duckdb_spark.pipeline.dedup import ensure_parallelism

    mat = np.asarray(jl_matrix(out_dim, dim, seed), dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(vecs: pd.Series) -> pd.Series:
        # null / wrong-width rows project to an all-null vector instead
        # of the kernel crashing in np.stack
        vals = vecs.to_numpy()
        ok = np.fromiter(
            (v is not None and len(v) == mat.shape[1] for v in vals),
            dtype=bool,
            count=len(vals),
        )
        out = np.empty(len(vals), dtype=object)
        if ok.any():
            x = np.stack(vals[ok]).astype(np.float64)  # (b_ok, dim)
            acc = np.zeros((x.shape[0], mat.shape[0]), dtype=np.float64)
            # sequential in j: the left-fold order of the dot product
            for j in range(mat.shape[1]):
                acc += x[:, j : j + 1] * mat[None, :, j]
            out[np.flatnonzero(ok)] = list(acc)
        bad = [None] * mat.shape[0]
        for i in np.flatnonzero(~ok):
            out[i] = bad
        return pd.Series(out)

    projected = ensure_parallelism(df).select(
        F.col(id_col),
        _proj(F.col(vec_col).cast("array<double>")).alias("_p"),
    )
    return projected.select(
        F.col(id_col), F.posexplode("_p").alias("pos", "_raw")
    ).select(
        id_col, "pos", (F.round(F.col("_raw"), 6) + F.lit(0.0)).alias("val")
    )


def ivfpq_topk(
    df: DataFrame,
    probe: list[float],
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ search — the FAISS IVFADC architecture (Jégou et al.,
    "Product quantization for nearest neighbor search", TPAMI 2011;
    Johnson et al. 2017): the coarse quantizer prunes the SCAN to
    ``nprobe`` cells, product-quantization ADC prunes the BYTES per
    scanned row (m small codes instead of the float vector). Together
    they are the memory-and-I/O shape that fits billion-vector search
    in cluster RAM: cells are the partition key, codes are the
    columns, and the full-precision vectors never leave storage.

    → (vec_id, adc_dist), k rows. Both stages reuse the frozen index
    artifacts (IVF centroids / PQ codebooks), both are deterministic,
    and the composed DuckDB oracle replays cell assignment, cell
    pruning, and the LUT distance bit-for-bit.
    """
    pv = np.asarray(probe, dtype=np.float64)
    order = (((centroids - pv[None, :]) ** 2).sum(axis=1)).argsort()[:nprobe]
    if cell_col not in df.columns:
        df = with_ivf_cell(df, centroids, vec_col, cell_col)
    candidates = df.filter(F.col(cell_col).isin([int(c) for c in order]))
    return pq_adc_topk(
        candidates, probe, codebooks, k, id_col, vec_col, code_col
    )


def mmr_rerank(
    df: DataFrame,
    probe: list[float],
    k: int = 8,
    pool: int = 64,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily pick the item maximizing
    ``lam * relevance - (1 - lam) * max_similarity_to_selected`` so the
    result set trades pure relevance for coverage — the standard
    rerank behind RAG retrieval and dedup-aware eval-set sampling.

    Two stages. (1) Distributed candidate generation: exact cosine
    top-``pool`` against the probe (TakeOrderedAndProject — the same
    scan shape as brute_force_topk). (2) The k greedy rounds run over
    the POOL — a bounded serving-time working set (rerank pools are
    64–1000 in practice, a caller-chosen constant independent of
    corpus size), so the pool rows are collected ONCE (O(pool·dim)
    driver bytes, the same bounded-artifact class as k-means
    centroids) and the greedy loop is plain driver arithmetic: zero
    extra Spark jobs instead of one Catalyst plan + job per round.
    Pools too big for the driver (> ``_DRIVER_POOL_MAX``) fall back to
    the distributed per-round argmax loop — identical results either
    way, because both paths execute the same IEEE ops in the same
    order (see below).

    Determinism contract (same as the ANN family): relevance and the
    max-sim penalty are floor-half-up rounded to 6 dp BEFORE the
    lam-blend, every argmax breaks ties on the rounded score by
    ascending id, and ``mu = 1 - lam`` is computed ONCE in the driver
    and used as the same IEEE double on both engines — the DuckDB
    oracle replays candidate pool, every greedy round, and the blend
    bit-for-bit. The driver greedy replicates the Column algebra
    EXACTLY: ``F.aggregate`` is a sequential left fold, so the Python
    loop ``acc += x*y`` produces the same double; ``math.sqrt`` and
    IEEE ``/``/``*``/``-`` match the JVM; the relevance values are
    not recomputed at all (the collected ``_rel`` doubles ARE the
    Spark-computed ones).

    -> (rank, vec_id, rel, mmr_score), rank 1..k in selection order.
    """
    import math

    spark = df.sparkSession
    mu = 1.0 - lam
    probe_lit = F.array(*[F.lit(float(x)) for x in probe])

    def r6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    probe_dim = None  # unroll measured SLOWER at bench scales (see vectors.dot)
    cand_plan = (
        df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
            r6(
                V.cosine_similarity(F.col(vec_col), probe_lit, probe_dim)
            ).alias("_rel"),
        )
        # zero-norm / non-finite vectors yield NaN relevance; NaN sorts
        # FIRST under desc and would enter the pool on the distributed
        # path while the driver greedy's `score > best` (NaN-false)
        # could pick differently — drop them so BOTH paths (and the
        # DuckDB oracle, where NaN never survives a comparison) see the
        # identical finite pool
        .filter(F.col("_rel").isNotNull() & ~F.isnan(F.col("_rel")))
        .orderBy(F.col("_rel").desc(), F.col(id_col).asc())
        .limit(pool)
    )
    if pool > _DRIVER_POOL_MAX:
        return _mmr_rounds_distributed(
            spark, cand_plan, k, pool, lam, mu, id_col
        )

    # --- driver greedy over the bounded pool (one Spark job total) ---
    rows = cand_plan.collect()

    def _cos(a: list, b: list) -> float:
        # sequential left folds, matching V.cosine_similarity's
        # F.aggregate order bit-for-bit
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    def _r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    remaining = [(r[id_col], list(r["_v"]), r["_rel"]) for r in rows]
    picked: list = []
    sel_vecs: list[list] = []
    for _ in range(k):
        best = None
        for rid, v, rel in remaining:
            if sel_vecs:
                pen = _r6(max(_cos(v, sv) for sv in sel_vecs))
            else:
                pen = 0.0
            score = lam * rel - mu * pen
            # argmax by (score desc, id asc) — NaN never occurs (pool
            # vectors have nonzero norm or cosine is inf/nan filtered
            # upstream identically on both paths)
            if best is None or score > best[0] or (
                score == best[0] and rid < best[1]
            ):
                best = (score, rid, v, rel)
        if best is None:
            break
        score, rid, v, rel = best
        picked.append((len(picked) + 1, rid, float(rel) + 0.0, float(score) + 0.0))
        sel_vecs.append(v)
        remaining = [t for t in remaining if t[0] != rid]
    from stac_fastapi_duckdb_spark.functions.localrel import local_rows_df

    return local_rows_df(
        spark, picked, f"rank int, {id_col} long, rel double, mmr_score double"
    )


# pools above this run the distributed per-round loop; below it the
# greedy runs driver-side on the collected pool (bounded: pool·dim
# doubles ≈ 4 MB at the threshold with dim 64)
_DRIVER_POOL_MAX = 8192


def _mmr_rounds_distributed(
    spark, cand_plan: DataFrame, k: int, pool: int, lam: float, mu: float,
    id_col: str,
) -> DataFrame:
    """The distributed greedy: one Catalyst plan + TakeOrdered job per
    round, selected vectors embedded as literals — for pools too large
    to collect. Bit-identical to the driver path (same fold order,
    same rounding, same tie-break)."""

    def r6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    # compact to ~64k-row partitions before checkpointing: each round
    # is a separate job, and inheriting the scan's partitioning would
    # pay k × (empty-task overhead) for a bounded result
    cand = cand_plan.coalesce(max(1, pool // 65536)).localCheckpoint()
    picked: list = []
    sel_vecs: list[Column] = []
    remaining = cand
    for _ in range(k):
        if sel_vecs:
            sims = [V.cosine_similarity(F.col("_v"), sv) for sv in sel_vecs]
            pen = r6(F.greatest(*sims) if len(sims) > 1 else sims[0])
        else:
            pen = F.lit(0.0)
        top = (
            remaining.select(
                id_col,
                "_v",
                "_rel",
                (F.lit(lam) * F.col("_rel") - F.lit(mu) * pen).alias("_score"),
            )
            .orderBy(F.col("_score").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        picked.append(
            (len(picked) + 1, row[id_col], float(row["_rel"]) + 0.0,
             float(row["_score"]) + 0.0)
        )
        sel_vecs.append(F.array(*[F.lit(float(x)) for x in row["_v"]]))
        remaining = remaining.filter(F.col(id_col) != row[id_col])
    from stac_fastapi_duckdb_spark.functions.localrel import local_rows_df

    return local_rows_df(
        spark, picked, f"rank int, {id_col} long, rel double, mmr_score double"
    )


def write_ivf_layout(
    df: DataFrame,
    centroids: np.ndarray,
    path: str,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> None:
    """Materialize the IVF serving layout: the table written
    hive-partitioned by coarse cell, so a probe's ``nprobe`` cells are
    a PARTITION-PRUNED scan — the storage half of the "cells are the
    partition key" contract (Jégou et al. 2011; FAISS IVF). At 100 TB
    this is what turns nprobe/num_cells into an I/O fraction: the
    other cells' files are never opened."""
    with_ivf_cell(df, centroids, vec_col, cell_col).write.mode(
        "overwrite"
    ).partitionBy(cell_col).parquet(path)


def ivf_topk_from_layout(
    spark,
    path: str,
    probe: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Serve ANN top-k from the partitioned layout: the cell IN-list
    lands in the scan's PartitionFilters (directory-level pruning, no
    row ever read from unprobed cells), then the exact rerank runs
    over the surviving ~nprobe/num_cells of the data."""
    pv = np.asarray(probe, dtype=np.float64)
    order = (((centroids - pv[None, :]) ** 2).sum(axis=1)).argsort()[:nprobe]
    df = spark.read.parquet(path).filter(
        F.col(cell_col).isin([int(c) for c in order])
    )
    return brute_force_topk(df, probe, k, id_col, vec_col)
