"""The ``operator_batch`` workload: 14 operators of ``plans.entry_queries``.

Base tables come from Spark's in-memory columnar cache
(``SPARK_GRAFT_CACHE_INPUTS=1``, set before the session starts). Each
operator run is construct + plan + execute, forced through the noop
sink so every output row and column is produced. Every pass runs each
operator once, in an order the seed shuffles.

Outputs are checked outside the timed window: two fresh evaluations of
each operator must give the same row count and order-insensitive
digest, and both must equal the DuckDB ``ORACLE_SQL`` restatement over
the same parquet files.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np

from perfbench import tables as T
from perfbench.stats import geomean, median, percentile
from perfbench.spans import JobCounter, Tracer

OPERATORS = (
    "pricing_summary", "region_revenue", "sessionize", "datetime_range",
    "cql2_comparisons", "sort_multikey", "collection_union", "text_analysis",
    "simhash_pairs", "minhash_near_dup", "curation_pipeline",
    "entity_resolution", "phash_near_dup", "embedding_near_dup",
)
# Timed passes at least. Later passes run faster while the JIT settles,
# so a window of 2 passes on one run and 3 on the next would differ by
# about 12%; with 3 the count stays 3 unless a pass takes under T/3.
MIN_PASSES = 3
# DuckDB restates these two by all-pairs comparison: tens of seconds here
QUADRATIC_ORACLE = {"minhash_near_dup", "entity_resolution"}


def normalize(df) -> list[str]:
    """Rows as strings: columns by name, floats to 6 places, NULL/NaN
    as ``NULL``, timestamps ISO to the µs; sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(f"{v:.6f}")
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat()[:26])
            else:
                row.append(str(v))
        rows.append("|".join(row))
    return sorted(rows)


def rows_digest(rows: list[str]) -> str:
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


class OperatorRun:
    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.sf = os.path.join(work, "tables")
        tables = T.generate(seed)
        T.write(tables, self.sf)
        self.input_digest = T.digest(tables)
        self.tables = sorted(tables)
        self.rng = np.random.default_rng([seed, 5])
        self.samples: dict[str, dict[str, list[float]]] = {}
        self.failures: list[str] = []
        self.attempted = 0

    def start(self, spark) -> None:
        from stac_fastapi_duckdb_spark.plans import entry_queries

        self.spark = spark
        self.queries = entry_queries.QUERIES
        self.oracle_sql = entry_queries.ORACLE_SQL

    # ------------------------------------------------------------------
    def run_one(self, name: str, phase: str, tracer: Tracer | None = None, jobs: JobCounter | None = None) -> None:
        self.attempted += 1
        try:
            if tracer is None:
                t0 = time.perf_counter()
                self.queries[name](self.spark, self.sf).write.format("noop").mode("overwrite").save()
                ms = (time.perf_counter() - t0) * 1000.0
            else:
                group = f"op-{self.attempted}"
                jobs.start(group)
                tracer.root = name
                t0 = time.perf_counter()
                op = tracer.begin("operator")
                with tracer.span("construct"):
                    df = self.queries[name](self.spark, self.sf)
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                tracer.end(op)
                ms = (time.perf_counter() - t0) * 1000.0
                self.jobs_of.setdefault(name, []).append(jobs.counts(group)[0])
        except Exception as exc:  # counted as a failed operator run
            self.failures.append(f"{name} ({phase}): {exc!r}"[:400])
            return
        self.samples.setdefault(phase, {}).setdefault(name, []).append(ms)

    def one_pass(self, phase: str, **trace) -> None:
        for i in self.rng.permutation(len(OPERATORS)):
            self.run_one(OPERATORS[i], phase, **trace)

    def setup(self) -> list[float]:
        """The first pass builds the table cache and warms every operator."""
        t0 = time.perf_counter()
        self.one_pass("warm")
        return [time.perf_counter() - t0]

    def warm(self) -> None:
        """No untimed pass beyond set-up: the run budget has no room for one."""

    def measure(self, seconds: float, phase: str, **trace) -> float:
        """Whole passes, at least ``MIN_PASSES``, until ``seconds`` have
        passed; → elapsed seconds. Whole passes keep the operator mix of
        every window the same."""
        t0 = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - t0 < seconds:
            self.one_pass(phase, **trace)
            passes += 1
        return time.perf_counter() - t0

    def end_to_end(self, phase: str, elapsed: float) -> dict[str, float]:
        per_op = self.samples.get(phase, {})
        every = [ms for v in per_op.values() for ms in v]
        return {
            "throughput_per_s": len(every) / elapsed,
            "latency_p50_ms": median(every),
            "latency_p90_ms": percentile(every, 90),
            "type_geomean_ms": geomean(median(v) for v in per_op.values()),
            "units": len(every),
            "per_type_p50_ms": {k: median(v) for k, v in sorted(per_op.items())},
            "op_geomean_ms": geomean(median(v) for v in per_op.values()),
        }

    # ------------------------------------------------------------------
    def check(self) -> None:
        """A quarter of the operators, chosen by the seed, are evaluated
        again outside the timed window. Those with a DuckDB
        restatement must equal it; the two whose restatement is
        all-pairs (``QUADRATIC_ORACLE``) must give the same rows on two
        evaluations instead."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            for name in OPERATORS[self.seed % 4 :: 4]:
                self.attempted += 1
                try:
                    got = normalize(self.queries[name](self.spark, self.sf).toPandas())
                    if name in QUADRATIC_ORACLE:
                        want = normalize(self.queries[name](self.spark, self.sf).toPandas())
                    else:
                        want = normalize(con.execute(self.oracle_sql[name]).fetchdf())
                    if got != want:
                        self.failures.append(
                            f"{name}: {len(got)} rows (digest {rows_digest(got)}), "
                            f"expected {len(want)} (digest {rows_digest(want)})"
                        )
                except Exception as exc:
                    self.failures.append(f"{name} check: {exc!r}"[:400])
        finally:
            con.close()

    @property
    def failed(self) -> int:
        return len(self.failures)

    # ------------------------------------------------------------------
    def traced(self, seconds: float) -> tuple[float, Tracer]:
        tracer = Tracer()
        self.jobs_of: dict[str, list[int]] = {}
        jobs = JobCounter(self.spark.sparkContext)
        try:
            elapsed = self.measure(seconds, "traced", tracer=tracer, jobs=jobs)
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return elapsed, tracer

    def per_layer(self, tracer: Tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        parts = {name: {"construct": [], "plan": [], "exec": []} for name in OPERATORS}
        for i in tracer.find("operator"):
            name = tracer.spans[i].root
            for c in tracer.spans[i].children:
                parts[name][tracer.spans[c].name].append(tracer.spans[c].ms)
        for name in OPERATORS:
            for part in ("construct", "plan", "exec"):
                out[f"plans.{name}.{part}_ms"] = median(parts[name][part])
            out[f"plans.{name}.jobs"] = median(self.jobs_of.get(name, []))
        return out
