"""The ``stac_search`` workload.

One closed-loop client drives ``api.create_app`` through Flask's
in-process test client (no sockets): it sends the next request only
after the previous one has returned. The timed traffic is read-only.

The traced run adds an ingest phase after its traced window: batches of
new items land in the directory-backed collection, written with Spark's
parquet writer on the serving session; each is followed by
``CollectionCatalog.register``, the search that must count the batch
and a GET of one just-landed id.

Responses are kept as bytes and checked against the oracle after the
timed window.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np

from perfbench import catalog as C
from perfbench import oracle as O
from perfbench import traffic as R
from perfbench.stats import geomean, median, percentile
from perfbench.spans import JobCounter, Tracer

LANDING_CID = "sentinel-2-l2a"  # directory-backed; batches land here
BATCH_ITEMS = 2000
LANDINGS = 6  # batches landed in the traced run's ingest phase
WARM_DECKS = 2  # untimed decks after set-up, while the JIT settles
WALKS = 1  # token walks of each kind checked to exhaustion


@dataclass
class Record:
    spec: dict
    status: int
    data: bytes
    ms: float
    version: int  # landed batches visible when the request was sent
    phase: str
    jobs: tuple[int, int, int] | None = None
    span: int = -1


class StacRun:
    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.base = C.generate(seed)
        self.urls: dict[str, str] = {}
        for cid, items in self.base.items():
            if cid == LANDING_CID:
                url = os.path.join(work, "data", cid)
                C.write_collection(items, os.path.join(url, "part-00000.parquet"))
            else:
                url = os.path.join(work, "data", f"{cid}.parquet")
                C.write_collection(items, url)
            self.urls[cid] = url
        self.input_digest = C.digest(self.base)
        self.stream = R.RequestStream(seed, self.base)
        self.warm_stream = R.RequestStream(seed, self.base, stream=3)
        self.pending: list[C.Items] = []
        self.batches: list[C.Items] = []
        self.records: list[Record] = []
        self.landings: list[dict] = []
        self.failures: list[str] = []
        self.tracer: Tracer | None = None
        self.jobs: JobCounter | None = None
        self._pick = np.random.default_rng([seed, 6])

    # ------------------------------------------------------------------
    def start(self, spark) -> None:
        from stac_fastapi_duckdb_spark.api.app import create_app
        from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

        self.spark = spark
        self._create_app = create_app
        self._catalog_cls = CollectionCatalog

    def build(self) -> None:
        self.catalog = self._catalog_cls(self.spark, dict(self.urls))
        self.client = self._create_app(self.catalog).test_client()

    def send(self, spec: dict, phase: str) -> float:
        body = spec.get("body")
        span = -1
        if self.tracer is not None:
            group = f"req-{len(self.records)}"
            self.jobs.start(group)
            self.tracer.root = group
            span = self.tracer.begin("request")
        t0 = time.perf_counter()
        try:
            resp = self.client.open(
                spec["path"], method=spec["method"], data=body,
                content_type="application/json" if body else None,
            )
            status, data = resp.status_code, resp.get_data()
        except Exception as exc:  # counted as a failed request, never skipped
            status, data = -1, repr(exc).encode()
        ms = (time.perf_counter() - t0) * 1000.0
        rec = Record(spec, status, data, ms, len(self.batches), phase, span=span)
        if self.tracer is not None:
            self.tracer.end(span)
            rec.jobs = self.jobs.counts(group)
        self.records.append(rec)
        return ms

    def land(self, phase: str) -> None:
        """Append one batch, re-register, then read it back."""
        k = len(self.batches)
        while len(self.pending) <= k:
            self.pending.append(C.landing_batch(self.seed, len(self.pending), self.base[LANDING_CID], BATCH_ITEMS))
        batch = self.pending[k]
        table = C.to_table(batch)
        t0 = time.perf_counter()
        try:
            span = self.tracer.begin("landing.write") if self.tracer is not None else -1
            try:
                self.spark.createDataFrame(table).write.mode("append").parquet(self.urls[LANDING_CID])
            finally:
                if span >= 0:
                    self.tracer.end(span)
            self.catalog.register(LANDING_CID, self.urls[LANDING_CID])
        except Exception as exc:  # counted as a failed landing
            self.failures.append(f"landing {k}: {exc!r}")
            self.landings.append({"phase": phase, "failed": True})
            return
        self.batches.append(batch)
        self.send(R.visible_search(LANDING_CID, C.EPOCH_US + C.SPAN_US), phase)
        t_vis = time.perf_counter()
        iid = str(batch.ids[int(self._pick.integers(len(batch)))])
        self.send(R.item_request(LANDING_CID, iid, "item_new_get"), phase)
        self.landings.append({"phase": phase, "failed": False, "visible_ms": (t_vis - t0) * 1000.0})

    # ------------------------------------------------------------------
    def setup(self) -> list[float]:
        """Catalog + app build and one request of every type."""
        t0 = time.perf_counter()
        self.build()
        for spec in self.warm_stream.warm():
            self.send(spec, "warm")
        return [time.perf_counter() - t0]

    def warm(self) -> None:
        for _ in range(WARM_DECKS):
            for spec in self.warm_stream.deck():
                self.send(spec, "warm")

    def measure(self, seconds: float, phase: str) -> float:
        """Requests until ``seconds`` have passed; → elapsed seconds. The
        window stops mid-deck, so the sample count follows the speed
        rather than jumping by a whole deck."""
        t0 = time.perf_counter()
        while True:
            for spec in self.stream.deck():
                self.send(spec, phase)
                if time.perf_counter() - t0 >= seconds:
                    return time.perf_counter() - t0

    def end_to_end(self, phase: str, elapsed: float) -> dict[str, float]:
        recs = [r for r in self.records if r.phase == phase]
        units: dict[str, list[float]] = {}
        for r in recs:
            units.setdefault(r.spec["template"], []).append(r.ms)
        every = [r.ms for r in recs]
        by_cls = {c: [r.ms for r in recs if r.spec["cls"] == c] for c in R.CLASSES}
        return {
            "throughput_per_s": len(every) / elapsed,
            "latency_p50_ms": median(every),
            "latency_p90_ms": percentile(every, 90),
            "type_geomean_ms": geomean(median(v) for v in units.values()),
            "units": len(every),
            "per_type_p50_ms": {k: median(v) for k, v in sorted(units.items())},
            "search_spatial_p50_ms": median(by_cls["spatial"]),
            "search_attr_p50_ms": median(by_cls["attr"]),
            "page_p50_ms": median(by_cls["page"]),
            "item_p50_ms": median(by_cls["item"]),
        }

    # ------------------------------------------------------------------
    def _truth(self, version: int, cache: dict) -> O.Truth:
        if version not in cache:
            cat = dict(self.base)
            for b in self.batches[:version]:
                cat[LANDING_CID] = cat[LANDING_CID].concat(b)
            cache[version] = O.Truth(cat)
        return cache[version]

    def check(self) -> None:
        """Every recorded response against the oracle; then token walks."""
        cache: dict[int, O.Truth] = {}
        for r in self.records:
            err = self._check_one(r, cache)
            if err:
                self.failures.append(f"{r.spec['template']} {r.spec['path'][:120]}: {err}")
        self._walks(cache)

    def _check_one(self, r: Record, cache: dict) -> str | None:
        if r.status != 200:
            return f"HTTP {r.status}: {r.data[:200]!r}"
        try:
            body = json.loads(r.data)
        except ValueError:
            return "response is not JSON"
        truth = self._truth(r.version, cache)
        if "item" in r.spec:
            return O.check_item(r.spec, body, truth)
        return O.check_search(r.spec, body, truth)

    def _walks(self, cache: dict) -> None:
        """Offset and keyset tokens followed to the last page: every
        matched id exactly once, in order."""
        truth = self._truth(len(self.batches), cache)
        rng = np.random.default_rng([self.seed, 4])
        cids = sorted(self.base)
        for w in range(2 * WALKS):
            keyset = w % 2 == 1
            cid = cids[int(rng.integers(len(cids)))]
            lo = C.EPOCH_US + int(rng.integers(0, C.SPAN_US - 60 * C.DAY_US))
            spec = {"collections": [cid], "datetime": (lo, lo + 45 * C.DAY_US), "limit": 25}
            want = O.order(O.match(spec, truth), [], truth)
            body = {"collections": [cid], "datetime": f"{O.iso_us(lo)}/{O.iso_us(lo + 45 * C.DAY_US)}", "limit": 25}
            token = O.keyset_token([""]) if keyset else None
            got: list[str] = []
            err = None
            for _ in range(len(want) // 25 + 2):
                page = dict(body, token=token) if token else body
                wspec = {"template": "walk", "cls": "walk", "method": "POST", "path": "/search", "body": json.dumps(page)}
                self.send(wspec, "check")
                rec = self.records[-1]
                try:
                    resp = json.loads(rec.data) if rec.status == 200 else None
                except ValueError:
                    resp = None
                if resp is None:
                    err = f"HTTP {rec.status}: {rec.data[:200]!r}"
                    break
                got.extend(f["id"] for f in resp["features"])
                token = O.next_token_of(resp)
                if token is None:
                    break
            if err is None and got != list(truth.ids[want]):
                err = f"walk returned {len(got)} ids ({len(set(got))} distinct), expected {len(want)}"
            if err:
                self.failures.append(f"{'keyset' if keyset else 'offset'} walk over {cid}: {err}")

    @property
    def attempted(self) -> int:
        return len(self.records) + len(self.landings)

    @property
    def failed(self) -> int:
        return len(self.failures)

    # ------------------------------------------------------------------
    # traced window: spans around the package's public functions
    # ------------------------------------------------------------------
    def traced(self, seconds: float) -> tuple[float, Tracer]:
        import pyspark.sql.classic.dataframe as classic

        from stac_fastapi_duckdb_spark.api import app as app_mod
        from stac_fastapi_duckdb_spark.operators.search import SearchBuilder

        tracer = Tracer()
        seen: set[tuple[int, str]] = set()
        cat_cls = self._catalog_cls
        for owner, attr, name in (
            (app_mod, "execute_search", "execute_search"),
            (app_mod, "get_one_item", "get_one_item"),
            (app_mod, "create_stac_item", "create_stac_item"),
            (SearchBuilder, "dataframe", "SearchBuilder.dataframe"),
            (classic.DataFrame, "collect", "collect"),
            (classic.DataFrame, "count", "count"),
            (cat_cls, "point_read", "point_read"),
            (cat_cls, "build_item_index", "build_item_index"),
        ):
            tracer.wrap(owner, attr, name)

        def items_df_name(cat, cid, *a, **k):
            key = (id(cat), cid)
            hit = key in seen
            seen.add(key)
            return "items_df.hit" if hit else "items_df.miss"

        def register_name(cat, cid, *a, **k):
            seen.discard((id(cat), cid))
            return "register"

        tracer.wrap(cat_cls, "items_df", items_df_name)
        tracer.wrap(cat_cls, "register", register_name)
        self.tracer, self.jobs = tracer, JobCounter(self.spark.sparkContext)
        try:
            elapsed = self.measure(seconds, "traced")
            for _ in range(LANDINGS):
                self.land("ingest")
        finally:
            self.tracer = None
            tracer.restore()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return elapsed, tracer

    def per_layer(self, tracer: Tracer) -> dict[str, float]:
        """Layer figures of the traced window, and of the ingest phase
        for the ``sources`` refresh path."""
        recs = [r for r in self.records if r.phase == "traced"]
        api_self, build, collect, actions, point, ser = [], [], [], [], [], []
        for r in recs:
            api_self.append(tracer.self_ms(r.span))
            point.extend(tracer.spans[i].ms for i in tracer.find("point_read", r.span))
            ser.extend(tracer.spans[i].ms for i in tracer.find("create_stac_item", r.span))
            for es in tracer.find("execute_search", r.span):
                col = tracer.find("collect", es)
                actions.append(len(col) + len(tracer.find("count", es)))
                if col:
                    build.append((tracer.spans[col[0]].start - tracer.spans[es].start) * 1000.0)
                    collect.extend(tracer.spans[i].ms for i in col)
        out = {
            "api.self_ms_p50": median(api_self),
            "operators.build_ms_p50": median(build),
            "operators.collect_ms_p50": median(collect),
            "operators.actions_per_search": float(np.mean(actions)) if actions else 0.0,
            "stac.serialize_us_per_item": 1000.0 * sum(ser) / len(ser) if ser else 0.0,
            "sources.point_read_ms_p50": median(point),
            "sources.items_df_miss_ms": median(tracer.ms("items_df.miss")),
            "sources.index_build_ms": median(tracer.ms("build_item_index")),
            "sources.write_ms_p50": median(tracer.ms("landing.write")),
            "workload.ingest_visible_ms": median(l["visible_ms"] for l in self.landings if not l["failed"]),
            "sources.files_per_collection": float(np.mean([
                len([f for f in os.listdir(u) if f.endswith(".parquet")]) if os.path.isdir(u) else 1
                for u in self.urls.values()
            ])),
        }
        for cls in R.CLASSES:
            counts = [r.jobs for r in recs if r.spec["cls"] == cls and r.jobs is not None]
            for k, what in enumerate(("jobs", "stages", "tasks")):
                out[f"spark.{what}_per_request.{cls}"] = float(np.mean([c[k] for c in counts])) if counts else 0.0
        return out

    def spatial_probe(self, n: int = 6) -> dict[str, float]:
        """Each sampled spatial request's filter counted twice: with the
        exact refine, and with only the envelope prefilter."""
        from stac_fastapi_duckdb_spark.functions import geo
        from stac_fastapi_duckdb_spark.operators import spatial
        from stac_fastapi_duckdb_spark.operators.search import SearchBuilder

        specs = [r.spec for r in self.records if r.phase == "timed" and r.spec["cls"] == "spatial"][:n]
        exact_ms, env_ms, keep, cand = [], [], 0, 0
        truth = O.Truth(self.base)
        rows_per_us: list[float] = []
        for spec in specs:
            poly = [list(p) for p in spec["polygon"]]
            geom = {"type": "Polygon", "coordinates": [poly + poly[:1]]}
            dt = spec.get("datetime")
            interval = f"{O.iso_us(dt[0])}/{O.iso_us(dt[1])}" if dt else None

            def builder():
                return (SearchBuilder(self.catalog).apply_collections(spec.get("collections"))
                        .apply_datetime(interval))

            t0 = time.perf_counter()
            n_exact = builder().apply_intersects(geom).dataframe().count()
            exact_ms.append((time.perf_counter() - t0) * 1000.0)
            df = builder().dataframe()
            w, s, e, nn = geo.bounds(geo.from_geojson(geom))
            t0 = time.perf_counter()
            n_env = df.filter(spatial.envelope_predicate(w, s, e, nn, df.columns)).count()
            env_ms.append((time.perf_counter() - t0) * 1000.0)
            keep, cand = keep + n_exact, cand + n_env
            # the refine's per-row cost, in this process, over the same candidates
            b = truth.bbox
            idx = np.flatnonzero((b[:, 0] <= e) & (b[:, 2] >= w) & (b[:, 1] <= nn) & (b[:, 3] >= s))
            wkbs = C._wkb_polygons(truth.corners[idx])
            q = geo.from_geojson(geom)
            t0 = time.perf_counter()
            for blob in wkbs:
                geo.intersects(geo.parse_wkb(blob), q)
            if len(wkbs):
                rows_per_us.append((time.perf_counter() - t0) * 1e6 / len(wkbs))
        return {
            "operators.spatial_refine_ms_p50": median(exact_ms),
            "operators.spatial_envelope_ms_p50": median(env_ms),
            "operators.refine_keep_ratio": keep / cand if cand else 0.0,
            "geo.refine_us_per_row": median(rows_per_us),
        }
