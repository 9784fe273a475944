"""Scaling probe: time representative queries across the three graded
scale factors and report the observed scaling exponent.

For each query, fits time ≈ a · (rows)^b between sf0.01 and sf0.1
(10× data). b ≈ 1 → linear in data (the operator's asymptotic cost is
the scan/shuffle, as designed); b ≈ 0 → fixed-overhead-dominated at
these sizes (the per-job floor, which amortizes away at cluster
scale); b > 1 would flag super-linear work — none should.

Usage: PYTHONPATH=/root/repo python tools/scale_probe.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CACHE_INPUTS", "1")

from stac_fastapi_duckdb_spark.plans import entry_queries as eq
from stac_fastapi_duckdb_spark.session import get_spark

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# one per cost regime: scan-bound agg, shuffle-bound dedup, LSH banding,
# map-only text compute, fused pipeline, window-heavy densification
PROBES = [
    "pricing_summary",
    "dedup_exact",
    "minhash_near_dup",
    "repetition_stats",
    "curation_pipeline",
    "gap_fill",
    # round-5 additions: GEMM-kernel semdedup, window-fingerprint spans,
    # anchor-window containment, map-only scoring, single-agg fingerprint
    "semdedup",
    "duplicate_spans",
    "containment_dedup",
    "quality_classifier",
    "dataset_fingerprint",
    "shuffle_shards",
    # late-round additions: bucketed row-id construction (3 bounded
    # driver actions), deletion-neighborhood blocking + Levenshtein,
    # LM train+score+ntile composite, exact-moment OLS, hash-diff join
    "global_row_ids",
    "edit_distance_pairs",
    "quality_tiers",
    "trend_fit",
    "snapshot_diff",
    # continuation additions: k driver-bounded selection rounds,
    # materialized-edge fixed point, d·w-bounded sketch, map-only folds
    "kcenter_select",
    "pagerank_transitions",
    "cms_counts",
    "jl_projection",
    # round-6 additions: first-occurrence novelty (hash-shuffled min),
    # bounded-register HLL, 1×1 theta combine, two-shuffle line dedup
    "ngram_novelty",
    "hll_distinct",
    "kmv_overlap",
    "line_dedup",
    "decontaminate",
    "hash_embed",
    "hashed_text_topk",
    "incremental_line_dedup",
    "ann_ivfpq_topk",
    # round-7 additions: blocked record linkage (one shuffle on the
    # blocking key, in-block pair expansion) and its CC closure
    "entity_match_pairs",
    "entity_resolution",
    # map-only interval filter over the SCD2 window build
    "scd2_as_of",
    # block-vote perceptual hash: explode collapsed by map-side combine
    "phash_near_dup",
    # stride-1 window-hash explode, slim (doc,pos,hash) shuffle
    "span_dedup",
    # k distributed argmax rounds over a checkpointed candidate pool
    "mmr_rerank",
    # rollup-collapsed window trend + broadcast seasonal means
    "seasonal_decompose",
    # granule-decomposed interval equi-join, canonical-granule dedup
    "interval_overlap",
    # union + IGNORE-NULLS carry window (the as-of cost regime)
    "attribution",
    # round-8 additions: shard-window packing, per-shard linear greedy
    # kernel, literal-quota WindowGroupLimit sampling
    "pack_chunks",
    "pack_greedy",
    "mixture_sample",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in PROBES:
        fn = eq.QUERIES[name]
        times = []
        for sf in SFS:
            force(fn(spark, sf))  # warm
            best = min(
                (lambda t0=time.perf_counter(): (force(fn(spark, sf)), time.perf_counter() - t0)[1])()
                for _ in range(2)
            )
            times.append(round(best, 4))
        # exponent over the last decade (sf0.01 → sf0.1, 10× rows)
        b = math.log10(times[2] / times[1]) if times[1] > 0 else float("nan")
        out[name] = {
            "sf0.001": times[0],
            "sf0.01": times[1],
            "sf0.1": times[2],
            "scaling_exponent": round(b, 3),
        }
        print(
            f"{name:22s} {times[0]:7.3f}s {times[1]:7.3f}s {times[2]:7.3f}s  b={b:.2f}",
            flush=True,
        )
    print(json.dumps({"metric": "scaling_probe", "probes": out}))


if __name__ == "__main__":
    main()
