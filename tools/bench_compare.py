"""Per-query Spark-vs-DuckDB timing comparison — the local feedback
loop for the graded "within 2x of DuckDB at the same SF" target.

Usage: PYTHONPATH=/root/repo python tools/bench_compare.py [sf_dir]

For every bench headline query that has a SQL oracle, times the Spark
plan (to full materialization — a noop v2 sink, since under count()
Catalyst prunes projections/sorts to an empty scan and the timing is
fiction) and the DuckDB oracle on the same parquet, and prints seconds
+ ratio. Queries without oracles (approx / Python-by-design) are timed
Spark-only. Note the DuckDB side runs the ORACLE formulation — for
LSH-style operators that is the O(n²) exact form, which is the point:
the oracle checks values, not strategy. Three further classes are timed
but excluded from the ratio total: quadratic oracles;
streaming-engine runs whose oracle is a batch SQL restatement (the
Spark number there includes fixed micro-batch/state-store startup that
a batch engine never pays and that amortizes over a stream's lifetime
— value parity is what the oracle gate checks); and iterative fixed
points whose unrolled-CTE oracle re-executes the upstream per round
(the ``quadratic_oracle``, ``streaming_oracle`` and ``iterative_oracle``
tags in plans/entry_queries.py say why each is excluded).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from stac_fastapi_duckdb_spark.plans import entry_queries as eq
from stac_fastapi_duckdb_spark.plans.entry_queries import force, tagged
from stac_fastapi_duckdb_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    cold_art = "--cold-artifacts" in sys.argv[1:]
    oracle_art = "--oracle-artifacts" in sys.argv[1:]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    # warm-serving symmetry (see bench.py): DuckDB below benches warm
    # (repeat runs, OS page cache); Spark serves base tables from its
    # columnar cache unless SPARK_GRAFT_BENCH_COLD=1
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1"
    if not cold:
        os.environ["SPARK_GRAFT_CACHE_INPUTS"] = "1"
    spark = get_spark("bench-compare")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"mode: {'cold' if cold else 'warm-cache'} (Spark input tables)")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    cold_roots: list[str] = []

    def _chill_artifacts() -> None:
        """Make the next run pay the full once-per-ingest artifact
        cost: clear the session tier and point the sidecar store at a
        fresh empty root (build + write + serve all timed). The
        previous cold root is deleted so a sweep doesn't pile sf0.1
        artifact copies into /tmp."""
        import shutil
        import tempfile

        def _unpersist(v) -> None:
            if hasattr(v, "unpersist"):
                v.unpersist()
            elif isinstance(v, dict):
                for x in v.values():
                    _unpersist(x)

        # drop the previous cold run's cached blocks — otherwise every
        # chill leaks a persisted artifact copy into the block manager
        _unpersist(eq._ARTIFACT_CACHE.pop(spark, {}) or {})
        while cold_roots:
            shutil.rmtree(cold_roots.pop(), ignore_errors=True)
        root = tempfile.mkdtemp(prefix="bench_cold_art_")
        cold_roots.append(root)
        os.environ["SPARK_GRAFT_SIDECAR_DIR"] = root

    if oracle_art:
        _oracle_artifact_table(spark, con, sf_dir)
        return

    if cold_art:
        print("artifact-served queries timed COLD (build+write+serve per run)")
    total_s = total_d = art_s = art_d = 0.0
    print(f"{'query':26s} {'':3s} {'spark':>8s} {'duckdb':>8s} {'ratio':>7s}")
    artifact = set(tagged("artifact"))
    spark_only = {
        **dict.fromkeys(tagged("quadratic_oracle"), "O(n²)"),
        **dict.fromkeys(tagged("streaming_oracle"), "stream"),
        **dict.fromkeys(tagged("iterative_oracle"), "iter"),
    }
    for name in tagged("headline") + tagged("pipeline_op"):
        fn = eq.QUERIES[name]
        is_art = name in artifact
        mark = "art" if is_art else ""

        def run_spark() -> None:
            if cold_art and is_art:
                _chill_artifacts()
            force(fn(spark, sf_dir))

        run_spark()  # warm (in cold-art mode: warms scans, not artifacts)
        best_s = min(_timed(run_spark) for _ in range(2))
        if name in spark_only:
            tag = spark_only[name]
            print(f"{name:26s} {mark:3s} {best_s:8.3f} {tag:>8s} {'—':>7s}")
            continue
        osql = eq.ORACLE_SQL[name]
        con.execute(osql).fetchall()  # warm
        best_d = min(_timed(lambda: con.execute(osql).fetchall()) for _ in range(2))
        if is_art:
            art_s += best_s
            art_d += best_d
        else:
            total_s += best_s
            total_d += best_d
        print(
            f"{name:26s} {mark:3s} {best_s:8.3f} {best_d:8.3f}"
            f" {best_s / max(best_d, 1e-9):7.1f}"
        )
    print(
        f"{'TOTAL live-compute':26s} {'':3s} {total_s:8.3f} {total_d:8.3f}"
        f" {total_s / max(total_d, 1e-9):7.1f}"
    )
    art_mode = (
        "cold: build+write+serve" if cold_art
        else "warm probe vs full recompute — see PERF.md cold table"
    )
    print(
        f"{'TOTAL artifact-served':26s} {'art':3s} {art_s:8.3f} {art_d:8.3f}"
        f" {art_s / max(art_d, 1e-9):7.1f}  ({art_mode})"
    )
    print(
        f"{'TOTAL (oracle set)':26s} {'':3s} {total_s + art_s:8.3f}"
        f" {total_d + art_d:8.3f}"
        f" {(total_s + art_s) / max(total_d + art_d, 1e-9):7.1f}"
    )


def _oracle_artifact_table(spark, con, sf_dir: str) -> None:
    """--oracle-artifacts: the true engine-vs-engine SERVING comparison
    for the artifact-served queries. The DuckDB side runs the
    serve-from-artifact form (tools/oracle_artifact_sql.py — sidecar
    parquet registered via read_parquet, only the query-side residual
    recomputed) instead of the full-recompute oracle, symmetric to the
    Spark warm-serving path. Every serve form is first VALIDATED
    against the full oracle (the same ``norm_rows`` canonicalization
    the pytest pin uses); a mismatching form is reported and not
    timed."""
    from tools.oracle_artifact_sql import SERVE_SQL, ArtifactCtx, norm_rows

    names = sorted(set(tagged("artifact")) & set(SERVE_SQL))
    print("artifact-served queries: Spark warm serve vs DuckDB serve-from-artifact")
    print(f"{'query':26s} {'spark':>8s} {'serveSQL':>9s} {'fullSQL':>8s} {'ratio':>7s}  valid")
    tot_s = tot_d = tot_full = 0.0
    n_bad = 0
    for name in names:
        fn = eq.QUERIES[name]
        force(fn(spark, sf_dir))  # builds + warms the artifact tier
        best_s = min(_timed(lambda: force(fn(spark, sf_dir))) for _ in range(2))
        ctx = ArtifactCtx(sf_dir)
        try:
            serve_sql = SERVE_SQL[name](ctx)
        except FileNotFoundError as exc:
            print(f"{name:26s} {best_s:8.3f} {'—':>9s} {'—':>8s} {'—':>7s}  SKIP ({exc})")
            continue
        # the EXPENSIVE side (full-recompute oracle) reuses its
        # validation fetch as the first timing sample — it must not run
        # a third, untimed pass just to be compared. The cheap serve
        # side keeps a clean min-of-2 over WARM runs (its validation
        # fetch is the warm-up), since the table's per-query ratios are
        # only as reproducible as their noisiest sample.
        t0 = time.perf_counter()
        full_fetch = con.execute(eq.ORACLE_SQL[name]).fetchall()
        t_full_1 = time.perf_counter() - t0
        best_full = min(
            t_full_1,
            _timed(lambda: con.execute(eq.ORACLE_SQL[name]).fetchall()),
        )
        serve_fetch = con.execute(serve_sql).fetchall()  # warm + validate
        valid = norm_rows(serve_fetch) == norm_rows(full_fetch)
        best_d = min(
            _timed(lambda: con.execute(serve_sql).fetchall())
            for _ in range(2)
        )
        if valid:
            tot_s += best_s
            tot_d += best_d
            tot_full += best_full
        else:
            n_bad += 1
        print(
            f"{name:26s} {best_s:8.3f} {best_d:9.3f} {best_full:8.3f}"
            f" {best_s / max(best_d, 1e-9):7.2f}  {'ok' if valid else 'MISMATCH'}"
        )
    print(
        f"{'TOTAL (validated rows)':26s} {tot_s:8.3f} {tot_d:9.3f} {tot_full:8.3f}"
        f" {tot_s / max(tot_d, 1e-9):7.2f}"
    )
    if n_bad:
        print(f"WARNING: {n_bad} serve form(s) mismatched the full oracle — excluded")


def _timed(f) -> float:
    t0 = time.perf_counter()
    f()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
