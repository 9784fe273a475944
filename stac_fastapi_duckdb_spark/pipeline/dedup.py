"""Deduplication operators over a document table.

Scale design notes (the whole point of each variant):

- **exact_dedup** — one hash-groupBy shuffle on the full text (or its
  xxhash64). Map-side partial aggregation applies; the shuffle carries
  one row per distinct key.
- **minhash_lsh_candidates** — shingle→minhash→band→bucket-join. The
  signature is computed WITHOUT exploding shingles (k seeded xxhash64
  mins over the shingle array, all inside whole-stage codegen); only
  the b band keys are exploded, so the shuffle is b rows per doc, not
  |shingles| rows. Candidate verification (exact Jaccard) runs only
  inside buckets — the classic way all-pairs O(n²) becomes ~O(n·b).
  Skew guard: buckets above ``max_bucket_size`` are dropped (a bucket
  that large means a near-constant band — e.g. boilerplate — and would
  quadratically blow up one reducer; at 100 TB this cap is what keeps
  the job alive).
- **simhash** — 64-bit signature via a vectorized pandas UDF (numpy
  bit-count matrix per Arrow batch); near-dup pairs by Hamming ≤ t
  found with the pigeonhole banding trick (split into t+1 chunks; equal
  chunk ⇒ candidate), again a bucket join instead of all-pairs.
- **ngram_jaccard_pairs** — exact verification primitive shared by the
  candidate generators; also usable brute-force on small inputs.
- **embedding_near_dup** — cosine ≥ τ pairs via random-hyperplane LSH
  bucketing (pipeline/similarity.py) + exact verify.

No counterpart exists in the reference (it has no dedup of any kind);
these are the training-data-pipeline extension required by the build
brief.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def shj_hint(df: DataFrame) -> DataFrame:
    """SHUFFLE_HASH hint for the banded bucket SELF-joins (simhash /
    phash / SRP): both join sides are projections of the SAME bucketed
    table, already hash-repartitioned on the bucket key. Under the
    default size-based planning the toy-scale estimates pick a
    BROADCAST join, whose build side is a *separate* subtree — the
    signature UDF + window chain then executes TWICE (once per side;
    measured: simhash_pairs 2.9 s → 1.9 s, phash pair stage 2.4 s →
    1.3 s at sf0.1 when the hint restores the shared exchange). With
    SHUFFLE_HASH both sides consume the SAME repartition exchange
    (AQE stage reuse), the chain runs once, and no sort is added
    (guide §2.4/§3.1).

    The fact-fact joins in plans/entry_queries.py (lineitem⋈orders)
    use the same hint on the narrower side: it skips both sort passes
    (~2× measured at sf0.1/sf1).

    Caveat: a shuffled-hash build must fit per-task memory and cannot
    spill its hash table the way sort-merge spills — under heavy key
    skew the pinned hint risks an executor OOM where Catalyst's default
    would degrade gracefully. The in-bucket skew cap bounds bucket
    sizes, and AQE skew-join splits oversized shuffle partitions before
    the build."""
    return df.hint("SHUFFLE_HASH")


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across all cores before CPU-heavy per-row
    compute. Single parquet files with one row group arrive as ONE
    partition; the pre-shuffle of raw rows is negligible against
    signature/UDF work. No-op when the input is already wide (the
    normal case at scale) and on streaming inputs (micro-batch
    parallelism is the source's concern; df.rdd is illegal there)."""
    if df.isStreaming:
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def tokens_col(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles_col(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (distinct), computed
    JVM-side: transform over token indices, no explode."""
    toks = tokens_col(text)
    count = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(count - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    # a doc shorter than n tokens yields its whole text as one shingle
    return F.array_distinct(
        F.when(count >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_hashes_col(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<bigint> of xxhash64 identities
    (distinct) — the dedup-pipeline twin of :func:`shingles_col`.

    Identity, not content: every consumer of the shingle set (minhash
    signatures, Jaccard/containment verify) only ever compares
    shingles for EQUALITY, so an 8-byte hash is a drop-in identity for
    the gram string (the same trade ``exact_dedup`` and
    ``contamination_overlap(hash_shingles=True)`` already make; a
    2⁻⁶⁴-probability collision can only merge two grams). What it buys
    (round 12, measured at sf0.1): :func:`shingles_col` built every
    gram STRING — an interpreted ``slice`` + ``concat_ws`` allocation
    per gram, ~3.1 s for the 5k-doc corpus before any hashing — while
    here each token is hashed ONCE and a gram's identity is the
    fixed-arity xxhash64 chain of its n token hashes (pure long
    mixing, no string is ever materialized).

    A doc shorter than n tokens contributes one whole-text shingle,
    hashed as a STRING (xxhash64 of the joined tokens) — the same
    value two identical short docs produce, and a value that cannot
    (mod 2⁻⁶⁴) collide with any n-token chain hash.
    """
    toks = tokens_col(text)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    count = F.size(th)
    # the n references to the token-hash array live in n SLICED copies
    # zipped into one struct array, so token hashing runs n times per
    # ROW; referencing th via element_at inside the per-gram lambda
    # instead re-evaluates the whole token-hash transform per GRAM
    # (interpreted lambdas get no common-subexpression reuse) —
    # measured 16× slower at sf0.1
    m = count - n + 1
    z = F.arrays_zip(*[F.slice(th, k + 1, m).alias(f"t{k}") for k in range(n)])
    grams = F.transform(
        z, lambda s: F.xxhash64(*[s[f"t{k}"] for k in range(n)])
    )
    return F.array_distinct(
        F.when(count >= n, grams).otherwise(
            F.array(F.xxhash64(F.concat_ws(" ", toks)))
        )
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative per identical text.

    → (keep_id, dups). Hashes the text first so the shuffle carries a
    64-bit key + id instead of the full document body — at 100 TB the
    difference between shuffling ~16 B/row and shuffling the corpus.
    """
    return (
        df.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dups"))
        .drop("_h")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(
    text: Column | str, num_hashes: int = 64, shingle_n: int = 3
) -> Column:
    """array<bigint> of ``num_hashes`` min-hash values.

    Each hash family member is xxhash64(gram_hash, seed=i) over the
    8-byte shingle identities of :func:`shingle_hashes_col` — pure
    long mixing in the JVM, so the signature needs neither explode nor
    Python nor any per-(gram, seed) string pass. (Round 12: the
    previous family hashed the gram STRING per seed — 64 full string
    passes per gram after building each gram with an interpreted
    slice+concat. Hashing the gram once and seeding over its 64-bit
    identity is the standard one-hash-then-derive minhash family; LSH
    recall depends only on the family being uniform per seed, which a
    full avalanche mix over the gram identity is, and every candidate
    is still exact-verified downstream.)
    """
    gh = shingle_hashes_col(text, shingle_n)
    # The gram-hash array must appear exactly ONCE in the expression
    # tree: a naive array(array_min(transform(gh, h_i)) for i) embeds
    # the full shingle construction 64 times and codegen re-evaluates
    # it per hash — measured 100×+ slower. Shape here: per gram, emit
    # all k seeded hashes, then fold elementwise mins with
    # aggregate+zip_with. Work is k long-hashes per gram, grams built
    # once.
    # the hash family is generated from a runtime sequence, NOT unrolled
    # into num_hashes separate expressions: unrolling makes codegen emit
    # a ~num_hashes× larger class (measured ~9 s to janino-compile at
    # k=64) that thrashes the fixed-size codegen cache under a mixed
    # workload. xxhash64(g, i) with i from sequence() produces the same
    # values as xxhash64(g, lit(i)) — both hash the (long, int) pair.
    max_long = (1 << 63) - 1
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    per_shingle = F.transform(
        gh, lambda g: F.transform(seeds, lambda i: F.xxhash64(g, i))
    )
    return F.aggregate(
        per_shingle,
        F.array_repeat(F.lit(max_long).cast("bigint"), num_hashes),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
    )


def banded_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """→ (_id, band, bhash): ``bands`` LSH bucket keys per doc (each a
    hash of one signature band). The shared front half of every
    minhash-LSH flow — self-dedup pairs it within buckets, incremental
    dedup joins new→base on (band, bhash)."""
    rows_per_band = num_hashes // bands
    df = ensure_parallelism(df)
    sig = df.select(
        F.col(id_col).alias("_id"),
        minhash_signature(F.col(text_col), num_hashes, shingle_n).alias("_sig"),
    )
    # band key = xxhash64 chain over the band's signature longs (round
    # 12; previously a decimal concat_ws string was built per band and
    # string-hashed — the key only needs equality semantics, so the
    # fixed-arity long chain is the same identity without the per-band
    # string allocation)
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("_sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash.

    rows per doc in the shuffle = ``bands``; join is per (band, hash)
    bucket. ``max_bucket_size`` drops degenerate buckets (skew guard).
    """
    banded = banded_signatures(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )

    # one shuffle: gather each bucket's ids, expand pairs in-bucket with
    # JVM array algebra (a self-join would shuffle twice and re-derive
    # the signature plan for both sides). Skew guard: buckets above
    # ``max_bucket_size`` are dropped BEFORE pair expansion — a
    # quadratic bucket is exactly what this bounds.
    return _bucket_pairs(
        banded, ["band", "bhash"], "_id", max_bucket_size
    ).distinct()


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int,
    pair_mode: str = "all",
) -> DataFrame:
    """(bucket → member ids) → candidate (id_a < id_b) pairs per bucket.

    groupBy + sorted collect_list + in-array pair expansion: the pair
    blow-up happens AFTER the size cap, inside codegen, with exactly one
    shuffle of (bucket, id) rows.

    ``pair_mode``:
      - ``"all"``  — every C(m, 2) in-bucket pair (exhaustive within the
        cap; output grows QUADRATICALLY with duplicate-cluster size —
        an m-clone boilerplate cluster alone emits m(m-1)/2 rows).
      - ``"star"`` — each member pairs only with the bucket's CANONICAL
        (minimum-id) member: m-1 pairs per bucket, output LINEAR in
        corpus size at any cluster shape. The member→canonical star is
        the dedup decision itself (keep the canonical, drop members
        that verify against it); choose it when the pair list feeds a
        keep/drop map rather than a clustering pass (stars don't carry
        transitive links between non-canonical members).
    """
    if pair_mode not in ("all", "star"):
        raise ValueError(
            f"_bucket_pairs: unknown pair_mode {pair_mode!r} "
            "(expected 'all' or 'star')"
        )
    ids = F.array_sort(F.collect_list(id_col))
    grouped = (
        df.groupBy(*bucket_cols)
        .agg(ids.alias("_ids"))
        .filter(
            (F.size("_ids") >= 2) & (F.size("_ids") <= max_bucket_size)
        )
    )
    if pair_mode == "star":
        pairs = F.transform(
            F.slice("_ids", 2, F.size("_ids") - 1),
            lambda b: F.struct(
                F.element_at("_ids", 1).alias("id_a"), b.alias("id_b")
            ),
        )
    else:
        pairs = F.flatten(
            F.transform(
                "_ids",
                lambda a, i: F.transform(
                    F.slice("_ids", i + 2, F.size("_ids")),
                    lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                ),
            )
        )
    return grouped.select(F.explode(pairs).alias("p")).select(
        "p.id_a", "p.id_b"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs.

    ``candidates``: (id_a, id_b) DataFrame; None → all pairs (brute
    force — only for small inputs/tests). → (id_a, id_b, jaccard).
    """
    sh = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            # hashed shingle identities (round 12): set EQUALITY is all
            # intersect/union need, and 8-byte longs make both the
            # verify exchange and the array algebra ~an order of
            # magnitude lighter than gram strings
            shingle_hashes_col(F.col(text_col), shingle_n).alias("_sh"),
        )
        # both verify joins consume sh keyed on _id; one explicit
        # repartition before aliasing makes the two join inputs one
        # shared exchange (AQE reuse) so shingling runs once, not twice
        .repartition("_id")
    )
    if candidates is None:
        a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
        b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = (
            candidates.join(
                sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a")),
                "id_a",
            ).join(
                sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b")),
                "id_b",
            )
        )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    transitive: bool = True,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify →
    canonical-id mapping (id → canonical_id).

    ``transitive=True`` (default) resolves the verified pair graph with
    iterative connected components, so a chain a—b—c maps BOTH b and c
    to a — the semantics a dedup keep-one filter actually needs.
    ``transitive=False`` is the cheaper one-hop map (each doc to the min
    id among its direct partners): correct only when near-dup clusters
    are cliques, kept for pipelines that intentionally trade chain
    closure for one fewer iterative stage.
    """
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    dup_pairs = ngram_jaccard_pairs(
        df, cand, text_col, id_col, shingle_n, threshold
    )
    all_ids = df.select(F.col(id_col))
    if transitive:
        comp = connected_components(
            dup_pairs, all_ids=all_ids, id_col=id_col
        )
        return comp.select(
            F.col(id_col), F.col("component").alias("canonical_id")
        )
    mapping = dup_pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("canonical_id")
    )
    return all_ids.join(mapping, id_col, "left").select(
        F.col(id_col),
        F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014): every node connects each
    strictly-larger neighbor to the minimum of its closed neighborhood.
    One groupBy-min + one join, both keyed on the node id."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.col("u"), F.min("v")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller-or-equal
    neighbors (and itself) to the minimum of that neighborhood. After
    this round every edge points child → smaller parent."""
    keyed = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = keyed.groupBy("u").agg(F.min("v").alias("m"))
    return (
        keyed.join(mins, "u")
        .select(F.col("v").alias("c"), F.col("m"))
        .unionByName(mins.select(F.col("u").alias("c"), F.col("m")))
        .filter(F.col("c") != F.col("m"))
        .select(F.col("c").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


# driver-fixpoint edge cap (the bounded-working-set serving contract
# shared with similarity._DRIVER_POOL_MAX and graph._DRIVER_GRAPH_MAX):
# a VERIFIED near-dup pair list is orders of magnitude smaller than the
# corpus (pairs survive banding + an exact verify), so on real inputs
# it frequently fits the driver even when the corpus never could.
# 64k edges × 2 slim ids is ~1 MB of driver memory; the probe that
# decides is one CollectLimit job over the already-checkpointed edge
# set, and anything larger falls back to the distributed star loop
# unchanged.
_DRIVER_CC_MAX = 65536


def _cc_driver_mapping(edge_rows) -> list[tuple]:
    """Union-find closure over a fully-fetched bounded edge list →
    sorted (node, component) rows for non-root nodes only (roots and
    singletons self-map via the caller's left-join coalesce, exactly
    like the star fixpoint's child→parent mapping). Components are
    labeled by their MINIMUM id — the same fixpoint as star and
    min-label propagation — via union-by-min roots; ids are compared
    with the native ``<`` the Column algebra uses, so the labels are
    identical values, not merely isomorphic."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        u, v = r[0], r[1]
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        if rv < ru:
            ru, rv = rv, ru
        parent[rv] = ru
    return sorted(
        (n, find(n)) for n in parent if find(n) != n
    )


def connected_components(
    edges: DataFrame,
    all_ids: DataFrame | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "doc_id",
    max_iter: int = 20,
    driver_cap: int | None = None,
) -> DataFrame:
    """Transitive closure of near-dup pairs → (id, component) with
    component = min id in the cluster.

    Edge sets of at most ``driver_cap`` edges (default
    ``_DRIVER_CC_MAX``) are fetched once and closed on the driver with
    union-find. Larger ones run large-star/small-star alternation
    (Kiveris et al. 2014): converges in O(log² n) rounds regardless of
    component DIAMETER — the property that matters at 100 TB, where a
    long chain of pairwise near-dups would cost min-label propagation
    one full join+agg round per hop. Each round is two groupBy-min +
    two joins on the node id plus one O(|E|) union+groupBy job that
    detects the star-forest fixpoint the same round it is reached (no
    confirm round); the working set is only the nodes that appear in
    an edge (singletons never enter the loop — they are label-joined
    once at the end), so the iteration's shuffles are sized by the
    pair graph, not the corpus. ``driver_cap=0`` forces the star loop.

    Both produce the identical fixpoint (component = min id), so every
    oracle that unrolls min-label propagation to convergence still
    matches. Lineage is cut per round with localCheckpoint (the classic
    iterative-algorithm failure mode).
    """
    e_plan = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # BOUNDED-POOL fast path (round 11; the contract pagerank/MMR/
    # k-center already use): probe the edge plan with ONE CollectLimit
    # job — when the verified pair graph fits the driver cap, close it
    # with union-find (identical min-id components, exact integer
    # labels) and serve the child→component mapping through the SAME
    # broadcast-join tail the star fixpoint uses. This replaces the
    # per-round large-star/small-star job chains (2 joins + 2 aggs +
    # checkpoint + fixpoint check per round — pure scheduling floor at
    # bench scale) with zero iterative jobs. Graphs above the cap take
    # the distributed star loop unchanged — that loop stays the >cap
    # fallback and the equivalence oracle (tests pin both paths equal).
    #
    # The probe runs BEFORE the localCheckpoint (round 12): a
    # checkpoint materializes through the RDD path, where AQE exchange
    # reuse is lost — every self-join-shaped pair plan (banded LSH
    # verify, blocked entity pairs) then executes its shared
    # repartition subtree TWICE just to land in the checkpoint the
    # fast path never re-reads (measured: entity_resolution pair
    # materialization 3.7 s checkpointed vs 1.9 s probed directly).
    # Only the >cap fallback pays the checkpoint now, and its probe is
    # a CollectLimit that early-exits after cap+1 rows instead of a
    # full materialization (the fixed per-call driver fetch the r11
    # advisory flagged); scale pipelines that KNOW the graph is large
    # can still pass driver_cap=0 to skip the probe outright.
    if driver_cap is None:
        driver_cap = _DRIVER_CC_MAX
    from pyspark.sql.types import IntegerType, LongType

    # numeric ids only: Python int ``<`` is exactly the JVM integer
    # ordering, so driver labels == distributed labels bit-for-bit.
    # (String ids would compare by code point here vs unsigned UTF-8
    # bytes in the JVM — skip the fast path rather than risk a
    # divergent min on exotic ids.)
    if driver_cap > 0 and isinstance(
        e_plan.schema["u"].dataType, (IntegerType, LongType)
    ):
        probe = e_plan.limit(driver_cap + 1).collect()
        if len(probe) <= driver_cap:
            mapping_rows = _cc_driver_mapping(probe)
            from pyspark.sql.types import StructField, StructType

            node_t = e_plan.schema["u"].dataType
            schema = StructType(
                [StructField("n", node_t), StructField("comp", node_t)]
            )
            from stac_fastapi_duckdb_spark.functions.localrel import (
                local_rows_df,
            )

            spark = edges.sparkSession
            mapping = local_rows_df(spark, mapping_rows, schema)
            if all_ids is not None:
                nodes = all_ids.select(F.col(id_col).alias("n")).distinct()
            else:
                # derive the node set from the ORIGINAL edges (not the
                # probed ``e``): a node appearing only in self-loops is
                # filtered out of ``e`` but still owns a singleton row
                nodes = (
                    edges.select(F.col(src).alias("n"))
                    .unionByName(edges.select(F.col(dst).alias("n")))
                    .distinct()
                )
            return nodes.join(
                F.broadcast(mapping), "n", "left"
            ).select(
                F.col("n").alias(id_col),
                F.coalesce("comp", F.col("n")).alias("component"),
            )
    # >cap (or non-numeric-id) graphs: materialize once, iterate
    e = e_plan.localCheckpoint()
    converged = False
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        # DIRECT fixpoint check, no confirm round: after small-star
        # every edge points child → smaller parent, so the edge set is
        # a (necessarily min-rooted) star forest — i.e. the algorithm's
        # fixpoint — iff no node is both a child and a parent AND no
        # child has two parents. One union+groupBy job on the deduped
        # edge set detects it the same round it is reached, where a
        # changed-set fingerprint would pay one more full LS+SS round
        # just to observe "no change".
        roles = e.select(
            F.col("u").alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p")
        ).unionByName(
            e.select(F.col("v").alias("n"), F.lit(0).alias("c"), F.lit(1).alias("p"))
        )
        bad = (
            roles.groupBy("n")
            .agg(F.sum("c").alias("nc"), F.sum("p").alias("np"))
            .filter((F.col("nc") > 0) & (F.col("np") > 0) | (F.col("nc") > 1))
            .count()
        )
        if bad == 0:
            converged = True
            break
    if not converged:
        # truncated run: the edge set is not yet a star forest, so the
        # mapping below is a VALID merge step but not the final
        # components — surface it instead of silently returning
        # non-minimal labels.
        import warnings

        warnings.warn(
            f"connected_components: star fixpoint not reached within "
            f"max_iter={max_iter} rounds — returned labels may be "
            "non-minimal; raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    # at the fixpoint the edges form min-rooted stars: child → component
    # min, roots absent from the child side. Singletons (and roots) map
    # to themselves via the left join.
    mapping = e.select(F.col("u").alias("n"), F.col("v").alias("comp"))
    if all_ids is not None:
        nodes = all_ids.select(F.col(id_col).alias("n")).distinct()
    else:
        nodes = edges.select(F.col(src).alias("n")).unionByName(
            edges.select(F.col(dst).alias("n"))
        ).distinct()
    return nodes.join(mapping, "n", "left").select(
        F.col("n").alias(id_col),
        F.coalesce("comp", F.col("n")).alias("component"),
    )


def with_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash per document via a vectorized pandas UDF.

    Per Arrow batch: token-hash with the low 64 bits of md5 (engine-
    agnostic — the DuckDB oracle re-derives the identical signature
    with ``md5(tok)`` hex arithmetic), accumulate signed bit counts,
    majority vote → bits. Python is justified here: 64 per-bit
    accumulators are hostile to Column algebra, and the UDF is
    O(tokens) vectorized per batch.
    """
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        tok_lists = [t.lower().split() if t else [] for t in texts]
        lens = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        # hash each DISTINCT token once per batch (natural text is
        # Zipfian — this cuts the only remaining Python loop by ~10x),
        # then fan back out and segment-sum the bit matrix per doc
        flat = np.empty(total, dtype=object)
        pos = 0
        for ts in tok_lists:
            flat[pos : pos + len(ts)] = ts
            pos += len(ts)
        codes, uniques = pd.factorize(flat)
        uh = np.fromiter(
            (_md5_64(u) for u in uniques), dtype=np.uint64, count=len(uniques)
        )
        bits = ((uh[codes][:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
            np.int32
        )
        nonempty = lens > 0
        starts = np.concatenate(([0], np.cumsum(lens)))[:-1][nonempty]
        sums = np.add.reduceat(bits, starts, axis=0)  # docs × 64
        v = (sums * 2 >= lens[nonempty, None]).astype(np.uint64)
        out[nonempty] = (
            (v << np.arange(64, dtype=np.uint64)).sum(axis=1).astype(np.int64)
        )
        return pd.Series(out)

    return df.withColumn(out_col, _simhash(F.col(text_col)))


def _md5_64(s: str) -> int:
    """Low 64 bits of md5 — same value as SQL
    ``CAST('0x' || substr(md5(tok), 17, 16) AS UBIGINT)``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[16:], 16)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ ``max_hamming`` via pigeonhole
    banding: split the 64-bit signature into max_hamming+1 chunks; any
    pair within distance t must agree on ≥1 chunk → bucket join per
    chunk, exact popcount verify inside buckets."""
    chunks = max_hamming + 1
    width = 64 // chunks
    sig = with_simhash(ensure_parallelism(df), text_col, "_sh").select(
        F.col(id_col).alias("_id"), F.col("_sh")
    )
    banded = sig.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("_sh"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("ckey"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("_id", "_sh", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey"))

    # bucket self-join: simhash buckets are DENSE (64/(t+1)-bit chunk
    # keys → few distinct buckets, many members), so the hash-join path
    # beats in-array pair expansion (measured 5× at sf0.1; the sparse
    # minhash buckets take the _bucket_pairs route instead). Skew guard
    # caps degenerate chunks (e.g. an all-zero chunk from boilerplate).
    # The repartition comes BEFORE the window (round 11): the window's
    # required ClusteredDistribution(chunk, ckey) is satisfied by the
    # explicit hash repartition, so the plan carries ONE exchange of
    # the banded table instead of window-exchange + repartition-
    # exchange, and that single exchange is the shuffle child both
    # self-join sides reuse (AQE ReusedExchange) — the signature UDF
    # runs once, the banded rows cross the network once.
    sized = (
        banded.repartition("chunk", "ckey")
        .withColumn(
            "_bucket_n",
            F.count(F.lit(1)).over(Window.partitionBy("chunk", "ckey")),
        )
        .filter(F.col("_bucket_n") <= max_bucket_size)
    )
    # SHUFFLE_HASH (round 11): without it the toy-scale size estimates
    # turn this self-join into a BROADCAST join whose build side is a
    # separate subtree — the signature UDF + explode + window chain
    # then runs TWICE. The hint keeps both sides on the ONE repartition
    # exchange above (AQE stage reuse), so the chain executes once and
    # no sort is added. See shj_hint for the skew/memory caveat.
    a = shj_hint(sized.select(
        "chunk", "ckey", F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a")
    ))
    b = shj_hint(sized.select(
        "chunk", "ckey", F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b")
    ))
    xor = F.col("_sh_a").bitwiseXOR(F.col("_sh_b"))
    hamming = F.bit_count(xor)
    # FIRST-AGREEING-CHUNK emission (round 11), replacing the
    # post-verify .distinct(): a near-dup pair agrees on every chunk
    # its signatures share (a hamming≤t pair agrees on ~chunks-t of
    # them), so the bucket join emits it once PER agreeing chunk and
    # the old distinct paid a full exchange + hash-aggregate over the
    # multiplied pair stream to collapse the copies. The agreeing
    # chunks are a pure function of the two signatures already on the
    # joined row, so "emit exactly once" is a codegen filter instead:
    # keep the pair only where the join chunk is the FIRST chunk whose
    # signature windows agree (xor window == 0). No exchange, no
    # aggregate, and candidate copies die inside the join stage.
    # Cap interplay: when a degenerate bucket IS capped, a pair whose
    # first-agreeing chunk sat in that bucket is suppressed even if a
    # later chunk's bucket survived — the guard's conservative intent
    # (capped buckets contribute no pairs); with no capped buckets the
    # output is provably identical to the distinct formulation
    # (tests/test_dedup.py pins both properties).
    first_agree = F.lit(-1)
    for c in range(chunks - 1, -1, -1):
        win = F.shiftrightunsigned(xor, c * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        first_agree = F.when(win == 0, F.lit(c)).otherwise(first_agree)
    return (
        a.join(b, ["chunk", "ckey"])
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("chunk") == first_agree))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_near_dup(
    new_docs: DataFrame,
    base_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Dedup an ARRIVING batch against the EXISTING corpus:
    → (new_id, base_id, jaccard) for every new doc near-duplicating a
    base doc at ≥ ``threshold``.

    This is the shape continuous ingest actually needs — the standing
    corpus is already deduped, so re-pairing base×base (what running
    the self-dedup over the union would do) is pure waste. Here the
    candidate join is banded-new ⋈ banded-base on (band, bhash): the
    shuffle carries ``bands`` rows per doc from EACH side, base-side
    buckets above ``max_bucket_size`` are dropped before the join
    (boilerplate-band skew guard, same rationale as the self-dedup
    cap), and only cross-side candidates are verified with exact
    shingle Jaccard. At scale the banded base table is a precomputed
    artifact — persist ``banded_signatures(base)`` bucketed by (band,
    bhash) and each arriving batch joins against it with no base-side
    recompute.

    Recall is PROBABILISTIC, like any LSH gate: a true pair at exactly
    ``threshold`` is missed with probability ``(1 - t^(h/b))^b`` (≈2e-4
    at the 64/16 defaults, ≈3e-15 at bands=32), and base buckets larger
    than ``max_bucket_size`` are dropped entirely — boilerplate members
    of an oversized bucket are deliberately not reported. Callers that
    need parity with an exhaustive oracle should raise ``bands`` and
    lift the cap (see ``plans/entry_queries.q_incremental_dedup``).
    """
    banded_new = banded_signatures(
        new_docs, text_col, id_col, num_hashes, bands, shingle_n
    ).select(F.col("_id").alias("new_id"), "band", "bhash")
    banded_base = banded_signatures(
        base_docs, text_col, id_col, num_hashes, bands, shingle_n
    ).select(F.col("_id").alias("base_id"), "band", "bhash")
    w = Window.partitionBy("band", "bhash")
    banded_base = banded_base.withColumn(
        "_n", F.count(F.lit(1)).over(w)
    ).filter(F.col("_n") <= max_bucket_size).drop("_n")

    cand = (
        banded_new.join(banded_base, ["band", "bhash"])
        .select("new_id", "base_id")
        .distinct()
    )

    sh_new = ensure_parallelism(new_docs).select(
        F.col(id_col).alias("new_id"),
        shingle_hashes_col(F.col(text_col), shingle_n).alias("_sh_a"),
    )
    sh_base = ensure_parallelism(base_docs).select(
        F.col(id_col).alias("base_id"),
        shingle_hashes_col(F.col(text_col), shingle_n).alias("_sh_b"),
    )
    pairs = cand.join(sh_new, "new_id").join(sh_base, "base_id")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    jac = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "base_id", "jaccard")
    )


def shingle_containment_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup: shingle-set CONTAINMENT over candidate
    pairs. Jaccard misses doc-inside-doc duplication (a paragraph
    quoted verbatim inside a much longer page scores low on
    |∩|/|∪| but 1.0 on |∩|/|smaller|); containment is the standard
    fix (Broder's resemblance vs containment distinction).

    ``containment = |Sa ∩ Sb| / min(|Sa|, |Sb|)`` — the smaller
    document's coverage by the pair's shared shingles, direction-free.

    ``candidates``: (id_a, id_b) pairs (normally from
    ``minhash_lsh_candidates`` — same bucketed front end); None → all
    pairs (test/oracle-scale only). → (id_a, id_b, containment).

    Scale shape: identical to ``ngram_jaccard_pairs`` — the shingle
    table is repartitioned on id once and feeds both join sides from
    one shared exchange; candidate count (not n²) bounds the work.
    """
    sh = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            shingle_hashes_col(F.col(text_col), shingle_n).alias("_sh"),
        )
        .repartition("_id")
    )
    if candidates is None:
        a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
        b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = (
            candidates.join(
                sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a")),
                "id_a",
            ).join(
                sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b")),
                "id_b",
            )
        )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    smaller = F.least(F.size("_sh_a"), F.size("_sh_b"))
    cont = F.when(
        smaller > 0, inter.cast("double") / smaller.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def duplicate_spans(
    df: DataFrame | None,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    annotated: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicated-substring detection at token-window
    granularity — the distributed restatement of suffix-array exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": remove long verbatim repeats, not
    whole near-dup documents). Every ``window_tokens``-token sliding
    window (stride 1) is fingerprinted; a window whose fingerprint
    occurs in ≥ ``min_docs`` distinct documents is duplicated;
    overlapping duplicated windows in a document are merged into
    maximal spans.

    → (doc_id, span_start, span_len, n_windows): token offset of each
    maximal duplicated span, its token length, and how many duplicated
    windows it merged. Downstream removal is a trivial consumer (slice
    the token array around the spans).

    Scale shape: the exploded stream carries a 16-hex-char (64-bit)
    fingerprint, not the window text; cross-corpus duplication is a
    COUNT-DISTINCT-window over ONE shuffle on the fingerprint (the
    same single-exchange trick as ``boilerplate_stats``); span merging
    is gaps-and-islands per doc — one more shuffle of only the
    duplicated (doc, pos) rows, which in a healthy corpus is a small
    fraction of the input. The fingerprint is md5-derived (not
    xxhash64) so the oracle can rebuild it engine-neutrally.

    Pass ``annotated`` (a prebuilt/persisted ``window_fp_annotated``
    stream — the corpus-constant duplication verdict, in production a
    written fingerprint sidecar) and neither the explode nor the fp
    window shuffle re-runs; ``df`` is then unused and may be None.
    """
    from pyspark.sql.window import Window

    k = window_tokens
    if annotated is None:
        annotated = window_fp_annotated(
            window_fp_stream(df, k, text_col, id_col)
        )
    # distinct-doc count per fingerprint (one shuffle on fp, already
    # paid when a prebuilt annotated stream is passed)
    dup = annotated.filter(F.col("_docs") >= min_docs).select("doc_id", "pos")
    # merge windows whose starts are within k tokens (overlap/adjacency)
    ws = Window.partitionBy("doc_id").orderBy("pos")
    run = ws.rowsBetween(Window.unboundedPreceding, 0)
    spans = (
        dup.withColumn(
            "_new",
            F.when(
                F.col("pos") - F.lag("pos", 1, -(k + 1)).over(ws) > k, 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(run))
    )
    return (
        spans.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k - F.min("pos")).cast("bigint").alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len", "n_windows")
    )


def anchor_window_candidates(
    df: DataFrame,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate pairs by ANCHOR-WINDOW blocking: two documents are
    candidates iff they share at least one identical
    ``window_tokens``-token run (the same md5 window fingerprint as
    ``duplicate_spans``). Deterministic — no hash-family probability —
    which makes it the right candidate front end for CONTAINMENT
    verification: a short document quoted inside a long one shares
    whole windows with it even when their Jaccard (what minhash-LSH is
    tuned for) is far below any banding threshold, and the oracle can
    replay the exact same blocking in SQL.

    → (id_a, id_b) distinct, id_a < id_b. Scale shape: one shuffle of
    (fp, id) rows (fingerprints travel as 8-byte longs), per-bucket
    in-array pair expansion behind the same ``max_bucket_size`` skew
    cap as the minhash/simhash joins.

    Fingerprint identity (round 12): the window key is the fixed-arity
    xxhash64 chain of the window's k token hashes — the same
    hash-identity trade as :func:`shingle_hashes_col`, and the same
    expression-shape rule (k sliced copies of the ONE token-hash array
    zipped into a struct stream; building each window STRING and
    md5-ing it cost an interpreted slice+concat+md5 per window —
    candidate stage A/B'd 1.4× faster at sf0.1, and the bucket shuffle
    carries 8-byte keys instead of 16-hex strings). Identical token
    runs still chain
    to identical keys (recall stays deterministic, the operator's whole
    point); a 2⁻⁶⁴ collision only ADDS a candidate that exact
    verification rejects. The md5 hex window fingerprints of the
    ExactSubstr family (``window_fp_stream``) are NOT touched — those
    are written artifacts whose oracles replay the hex.
    """
    k = window_tokens
    toks = tokens_col(F.col(text_col))
    th = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)
    m = n - k + 1
    z = F.arrays_zip(*[F.slice(th, j + 1, m).alias(f"t{j}") for j in range(k)])
    wins = F.array_distinct(
        F.transform(z, lambda s: F.xxhash64(*[s[f"t{j}"] for j in range(k)]))
    )
    ex = (
        ensure_parallelism(df)
        .filter(n >= k)
        .select(F.col(id_col).alias("_id"), F.explode(wins).alias("fp"))
    )
    return _bucket_pairs(ex, ["fp"], "_id", max_bucket_size).distinct()


def cluster_representatives(
    df: DataFrame,
    score_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    score_col: str = "qc_score",
    bands: int = 16,
) -> DataFrame:
    """Keep-BEST dedup: the production follow-on to the near-dup map.
    A min-id canonical map answers "which docs are duplicates"; what a
    curation pipeline actually ships is ONE representative per cluster,
    and "first by id" is the wrong pick when a quality model is
    available — the highest-scoring member should represent the
    cluster (arXiv:2107.06499 §4 observes the kept member matters).

    Composition: transitive minhash dedup map (``minhash_dedup``) ⋈
    per-doc quality score (``quality_classifier`` unless ``score_df``
    with (id_col, score_col) is supplied) → per-cluster argmax by
    (score DESC, id ASC).

    → (canonical_id, rep_id, rep_score, n_members), one row per
    cluster (singletons included — every kept doc appears).

    Scale shape: the dedup map is the dominant cost (banded LSH, see
    ``minhash_dedup``); scoring is map-only; the representative choice
    is ONE shuffle on the cluster id, with the member count taken from
    the same window partitioning (shared exchange, no second shuffle).
    """
    from pyspark.sql.window import Window

    if score_df is None:
        from stac_fastapi_duckdb_spark.pipeline.text import quality_classifier

        score_df = quality_classifier(df, text_col=text_col, id_col=id_col)
    cmap = minhash_dedup(
        df, text_col=text_col, id_col=id_col, threshold=threshold, bands=bands
    )
    scored = cmap.join(
        score_df.select(F.col(id_col).alias("doc_id"), score_col), "doc_id"
    )
    w = Window.partitionBy("canonical_id")
    ranked = scored.withColumn(
        "_rn",
        F.row_number().over(
            w.orderBy(F.col(score_col).desc(), F.col("doc_id").asc())
        ),
    ).withColumn("n_members", F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("_rn") == 1).select(
        "canonical_id",
        F.col("doc_id").alias("rep_id"),
        F.col(score_col).alias("rep_score"),
        "n_members",
    )


def remove_duplicate_spans(
    df: DataFrame,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    annotated: DataFrame | None = None,
) -> DataFrame:
    """The CLEANING consumer of ``duplicate_spans``: rebuild each
    document with its cross-document duplicated runs removed, keeping
    exactly ONE occurrence per run corpus-wide (Lee et al. 2022's
    keep-one semantics — deleting every copy would erase shared
    content from the corpus entirely).

    Ownership rule (deterministic): for each duplicated window
    fingerprint, the LOWEST doc_id containing it owns it; every other
    document's tokens covered by that window are removed. Overlapping
    foreign windows merge into maximal removal intervals
    (gaps-and-islands, as in ``duplicate_spans``).

    → (doc_id, clean_text, n_tokens, n_removed): every input document
    appears (documents with nothing to remove pass through with
    ``n_removed = 0``).

    Scale shape: same two bounded shuffles as ``duplicate_spans`` (one
    on the 16-hex window fingerprint, one per-doc islands pass over
    only the foreign-duplicated positions), then ONE left join of the
    corpus against the per-doc removal-interval arrays (grouped —
    intervals per doc are few) and a map-side JVM rebuild: tokens are
    filtered by a fold over the interval array and re-joined — no
    token-level explode of the corpus.

    Pass ``annotated`` (a prebuilt/persisted ``window_fp_annotated``
    stream) and the explode + fp window shuffle never re-run — the
    query pays only the islands pass and the rebuild join.
    """
    k = window_tokens
    if annotated is None:
        annotated = window_fp_annotated(
            window_fp_stream(df, k, text_col, id_col)
        )
    marked = (
        annotated.filter(
            (F.col("_docs") >= 2) & (F.col("doc_id") != F.col("_owner"))
        )
        .select("doc_id", "pos")
        .distinct()
    )
    return rebuild_without_spans(df, marked, k, text_col, id_col)


def window_fp_stream(
    df: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, fp) stream of 16-hex md5 fingerprints over every
    k-token window (docs shorter than k contribute nothing) — the
    shared front end of span-level dedup and decontamination."""
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    wins = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.substring(
            F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))), 1, 16
        ),
    )
    return (
        ensure_parallelism(df)
        .filter(n >= k)
        .select(
            F.col(id_col).alias("doc_id"), F.posexplode(wins).alias("pos", "fp")
        )
    )


def window_fp_annotated(stream: DataFrame) -> DataFrame:
    """Annotate a ``window_fp_stream`` with the corpus-constant
    duplication verdict: per-fingerprint distinct-document count
    (``_docs``) and owning (minimum) document (``_owner``) — ONE
    shuffle on the 16-hex fingerprint, shared by the reporting
    (:func:`duplicate_spans`) and cleaning
    (:func:`remove_duplicate_spans`) consumers. The verdict depends
    only on the corpus, so in production this is written once as the
    fingerprint sidecar's two extra columns and every consumer reads
    it instead of re-running the window."""
    from pyspark.sql.window import Window

    wfp = Window.partitionBy("fp")
    return stream.withColumn(
        "_docs", F.size(F.collect_set("doc_id").over(wfp))
    ).withColumn("_owner", F.min("doc_id").over(wfp))


def rebuild_without_spans(
    df: DataFrame,
    marked: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared back end of span removal: merge marked window positions
    (doc_id, pos) into maximal [lo, hi] token intervals
    (gaps-and-islands over only the marked positions — a tiny fraction
    of the corpus), then ONE left join of the corpus against the
    per-doc interval arrays and a map-side JVM token rebuild.
    → (doc_id, clean_text, n_tokens, n_removed)."""
    from pyspark.sql.window import Window

    ws = Window.partitionBy("doc_id").orderBy("pos")
    run = ws.rowsBetween(Window.unboundedPreceding, 0)
    intervals = (
        marked.withColumn(
            "_new",
            F.when(
                F.col("pos") - F.lag("pos", 1, -(k + 1)).over(ws) > k, 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(run))
        .groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("lo"),
            (F.max("pos") + k - 1).alias("hi"),  # inclusive token bounds
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("lo", "hi")).alias("_rm")
        )
    )
    joined = df.join(
        intervals, df[id_col] == intervals["doc_id"], "left"
    ).select(df[id_col].alias("doc_id"), F.col(text_col), "_rm")
    # JVM rebuild: keep token i unless some [lo,hi] interval covers it.
    # The filter tests each token directly against the (few, merged)
    # intervals — O(tokens × intervals), instead of first materializing
    # a removed-position array and probing it per token, which is
    # O(tokens × removed_positions); A/B'd ~15% faster end-to-end at
    # sf0.1 with identical output
    t2 = tokens_col(F.col(text_col))
    rm = F.coalesce(
        F.col("_rm"), F.array().cast("array<struct<lo:int,hi:int>>")
    )
    kept = F.filter(
        t2,
        lambda tok, i: ~F.exists(
            rm, lambda r: (i >= r["lo"]) & (i <= r["hi"])
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(t2).cast("bigint").alias("n_tokens"),
        (F.size(t2) - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def deletion_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus-constant blocking index of :func:`edit_distance_pairs`
    (the SymSpell/FastSS deletion neighborhood, word-granular): per
    document, the 16-hex signature of its token sequence and of every
    single-token deletion → (_id, sig), distinct. One explode + the
    per-doc window sums (the O(total tokens) rolling-sum construction
    documented on the consumer); at 100 TB this is written once at
    ingest as the near-identical blocking sidecar."""
    from pyspark.sql import Window

    from stac_fastapi_duckdb_spark.pipeline.sketch import kmv_hash

    _M = F.lit(1 << 60).cast("decimal(38,0)")
    dec0 = F.lit(0).cast("decimal(38,0)")
    toks = tokens_col(F.col(text_col))
    ex0 = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        F.posexplode(toks).alias("_p", "_tok"),
    )
    hd = kmv_hash(F.col("_tok")).cast("decimal(38,0)")
    wdoc = Window.partitionBy("_id")
    wsuf = (
        Window.partitionBy("_id")
        .orderBy(F.col("_p").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rows = ex0.select(
        "_id",
        "_p",
        hd.alias("_h"),
        F.sum(hd).over(wdoc).alias("_S"),
        F.sum(hd * (F.col("_p") + 1)).over(wdoc).alias("_W"),
        F.coalesce(F.sum(hd).over(wsuf), dec0).alias("_T"),
    )

    def _sig(s_part: Column, w_part: Column) -> Column:
        return F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.pmod(s_part, _M).cast("long").cast("string"),
                    F.pmod(w_part, _M).cast("long").cast("string"),
                )
            ),
            1,
            16,
        )

    del_sigs = rows.select(
        "_id",
        _sig(
            F.col("_S") - F.col("_h"),
            F.col("_W") - F.col("_h") * (F.col("_p") + 1) - F.col("_T"),
        ).alias("sig"),
    )
    full_sigs = rows.filter(F.col("_p") == 0).select(
        "_id", _sig(F.col("_S"), F.col("_W")).alias("sig")
    )
    return del_sigs.unionByName(full_sigs).distinct()


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 10,
    max_bucket_size: int = 1000,
    pair_mode: str = "all",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Typo-level near-identical pairs: documents whose texts are a few
    character edits apart (template instantiations, OCR noise, version
    bumps — deltas too small for shingle-Jaccard banding to gain
    signal-to-noise on, and exactly what boilerplate variants look
    like).

    ``pair_mode="star"`` bounds the one super-linear behavior of the
    pair form: an m-clone cluster otherwise emits (and Levenshteins)
    C(m, 2) rows per shared signature. Star pairs each member only
    with its signature bucket's minimum-id member — output and verify
    cost LINEAR in corpus size, and the surviving (canonical, member,
    dist) rows are exactly the keep/drop map a dedup pass applies.
    (Members > min that only match each OTHER are not linked in star
    form; use ``"all"`` when transitive clustering is the goal.)

    Candidate blocking is the DELETION NEIGHBORHOOD at token level
    (the SymSpell/FastSS construction, word-granular): each document
    emits a signature of its token sequence and of every single-token
    deletion — n+1 signatures per doc, shuffled as 16-hex
    fingerprints. Two docs share a signature iff one token deletion
    (or none) aligns them, which guarantees recall for token edit
    distance ≤ 2 of indel/substitution type (sub = one deletion from
    EACH side meeting at the same signature). Deterministic — no hash
    family miss probability — and replayable in SQL. Verification is
    exact character-level Levenshtein (JVM banded/thresholded built-in)
    on the candidate pairs only, never all pairs; the usual
    ``max_bucket_size`` cap bounds boilerplate-bucket blowup before
    pair expansion.

    SIGNATURE CONSTRUCTION (round 8 — O(total tokens), not O(n²)
    chars): hashing the n+1 deleted SEQUENCES directly costs n md5
    passes over ~the whole document each (quadratic per doc — the
    dominant cost at corpus scale). Instead each token is hashed ONCE
    (60-bit md5), and a deleted sequence is summarized by the pair of
    position-aware rolling sums

        S' = S − h_i                (plain sum of remaining hashes)
        W' = W − h_i·(i+1) − T_i    (position-weighted sum after the
                                     left shift of tokens past i;
                                     T_i = suffix hash sum beyond i)

    computed per position from two window sums over the exploded
    (doc, pos, h) stream — exact DECIMAL(38) integer arithmetic, taken
    mod 2^60 only at the end, so both engines replay the same values —
    and folded to the 16-hex signature md5(S' || ':' || W'). Identical
    reduced sequences give identical (S', W') (recall unchanged);
    unequal sequences collide with ~2⁻⁶⁴ probability and any collision
    only ADDS a candidate pair that exact verification then rejects.

    → (id_a, id_b, dist) with ``dist ≤ max_dist`` chars, id_a < id_b.

    Pass ``signatures`` (a prebuilt/persisted
    :func:`deletion_signatures` stream — the written SymSpell blocking
    index of the ingest pass) and the explode + window sums never
    re-run; the query pays only the bucket join + Levenshtein verify.
    """
    ex = (
        deletion_signatures(df, text_col, id_col)
        if signatures is None
        else signatures
    )
    cand = _bucket_pairs(
        ex, ["sig"], "_id", max_bucket_size, pair_mode
    ).distinct()
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    # THRESHOLDED Levenshtein (Spark 3.5+): the banded DP early-exits
    # once the distance provably exceeds max_dist — O(len·max_dist)
    # per pair instead of O(len²), the difference between seconds and
    # minutes on kilobyte documents; returns -1 above the threshold,
    # and the exact distance (identical to the unbounded form) for
    # every pair the filter keeps.
    #
    # Join topology: SHUFFLE_HASH on both text attachments — the
    # document table is never broadcast-built (kilobyte texts × corpus
    # rows is a driver-side OOM at scale and a serial hash build even
    # locally); both joins exchange on the id and probe in parallel.
    # Catalyst inlines the `dist >= 0` filter into the second join as
    # a residual condition (the banded DP then runs during the probe,
    # parallel across the join's partitions, and the kept pairs —
    # a tiny set — have the distance re-projected above; both
    # evaluations are distributed, neither is the single-task
    # coalesced plan AQE would pick for the bare filtered join).
    return (
        cand.join(a.hint("SHUFFLE_HASH"), "id_a")
        .join(b.hint("SHUFFLE_HASH"), "id_b")
        .withColumn(
            "dist",
            F.levenshtein("_ta", "_tb", max_dist).cast("bigint"),
        )
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )
