"""Seeded STAC catalog: item arrays, GeoParquet files and landing batches.

Everything here is a pure function of the seed. The arrays are kept
beside the files so the oracle can restate every answer without reading
the program's output back.

Footprints are rotated quadrilaterals (a Landsat/Sentinel-like scene
tilted by its orbit inclination), so an item's envelope covers more
ground than the footprint itself and the exact refine has work to do.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1514764800 * 1_000_000  # 2018-01-01T00:00:00Z
SPAN_US = 6 * 365 * 86400 * 1_000_000  # six years of acquisitions
DAY_US = 86400 * 1_000_000

# Area the footprints fall in (lon, lat); queries are drawn inside it.
REGION = (-100.0, -30.0, -60.0, 30.0)


@dataclass(frozen=True)
class CollectionSpec:
    cid: str
    n_items: int
    platforms: tuple[str, ...]
    half_size: tuple[float, float]  # footprint half width/height, degrees
    gsd: float
    epsg: int
    extra: str  # the one column only this collection has


# Three collections with schema drift: each carries one extra column.
COLLECTIONS = (
    CollectionSpec("landsat-c2l2", 36_000, ("landsat-8", "landsat-9"), (0.9, 0.85), 30.0, 32614, "landsat:wrs_path"),
    CollectionSpec("sentinel-2-l2a", 24_000, ("sentinel-2a", "sentinel-2b"), (0.5, 0.5), 10.0, 32615, "s2:mgrs_tile"),
    CollectionSpec("modis-09a1", 12_000, ("terra", "aqua"), (1.2, 1.0), 250.0, 4326, "sat:orbit_state"),
)
ROW_GROUP_ROWS = 6_000
NULL_DATETIME_SHARE = 0.2
NAN_CLOUD_SHARE = 0.03


@dataclass
class Items:
    """Column arrays of one collection's items (file order = time order)."""

    cid: str
    ids: np.ndarray  # object (str)
    corners: np.ndarray  # (n, 4, 2) footprint corners, counter-clockwise
    dt: np.ndarray  # int64 µs since epoch; -1 where NULL
    start: np.ndarray  # int64 µs; -1 where NULL
    end: np.ndarray  # int64 µs; -1 where NULL
    platform: np.ndarray  # object (str)
    cloud: np.ndarray  # float64, NaN for unknown
    extra: np.ndarray  # object; value of the collection's extra column
    spec: CollectionSpec = field(repr=False, default=None)

    @property
    def bbox(self) -> np.ndarray:
        return np.concatenate([self.corners.min(axis=1), self.corners.max(axis=1)], axis=1)

    def __len__(self) -> int:
        return len(self.ids)

    def concat(self, other: "Items") -> "Items":
        return Items(
            self.cid,
            np.concatenate([self.ids, other.ids]),
            np.concatenate([self.corners, other.corners]),
            np.concatenate([self.dt, other.dt]),
            np.concatenate([self.start, other.start]),
            np.concatenate([self.end, other.end]),
            np.concatenate([self.platform, other.platform]),
            np.concatenate([self.cloud, other.cloud]),
            np.concatenate([self.extra, other.extra]),
            self.spec,
        )


def footprints(rng: np.random.Generator, n: int, half: tuple[float, float]) -> np.ndarray:
    """(n, 4, 2) rotated rectangles, corners counter-clockwise."""
    w0, s0, e0, n0 = REGION
    cx = rng.uniform(w0, e0, n)
    cy = rng.uniform(s0, n0, n)
    scale = rng.uniform(0.85, 1.15, n)
    hw, hh = half[0] * scale, half[1] * scale
    theta = np.deg2rad(rng.uniform(8.0, 14.0, n)) * rng.choice([-1.0, 1.0], n)
    local = np.stack(
        [np.stack([-hw, -hh], 1), np.stack([hw, -hh], 1), np.stack([hw, hh], 1), np.stack([-hw, hh], 1)],
        axis=1,
    )
    c, s = np.cos(theta)[:, None], np.sin(theta)[:, None]
    x = local[..., 0] * c - local[..., 1] * s + cx[:, None]
    y = local[..., 0] * s + local[..., 1] * c + cy[:, None]
    return np.stack([x, y], axis=2)


def _extra_values(rng: np.random.Generator, spec: CollectionSpec, n: int) -> np.ndarray:
    if spec.extra == "landsat:wrs_path":
        return rng.integers(1, 234, n).astype(object)
    if spec.extra == "s2:mgrs_tile":
        return np.array([f"{z:02d}{b}" for z, b in zip(rng.integers(10, 20, n), rng.choice(list("QRSTU"), n))], dtype=object)
    return rng.choice(np.array(["ascending", "descending"], dtype=object), n)


def make_items(
    rng: np.random.Generator, spec: CollectionSpec, n: int, t_lo: int, t_hi: int, first: int
) -> Items:
    """``n`` items with acquisition times sorted in [t_lo, t_hi) µs and
    ids ``{cid}-{first..first+n}`` (so id order follows time order)."""
    t = np.sort(rng.integers(t_lo, t_hi, n))
    null_dt = rng.random(n) < NULL_DATETIME_SHARE
    dt = np.where(null_dt, -1, t)
    start = np.where(null_dt, t - rng.integers(0, 20, n) * DAY_US, -1)
    end = np.where(null_dt, t + rng.integers(0, 20, n) * DAY_US, -1)
    cloud = np.round(rng.uniform(0.0, 100.0, n), 2)
    cloud[rng.random(n) < NAN_CLOUD_SHARE] = np.nan
    return Items(
        spec.cid,
        np.array([f"{spec.cid}-{i:07d}" for i in range(first, first + n)], dtype=object),
        footprints(rng, n, spec.half_size),
        dt,
        start,
        end,
        rng.choice(np.array(spec.platforms, dtype=object), n),
        cloud,
        _extra_values(rng, spec, n),
        spec,
    )


def generate(seed: int, scale: float = 1.0) -> dict[str, Items]:
    """The catalog for ``seed``: cid → Items."""
    rng = np.random.default_rng(seed)
    out = {}
    for spec in COLLECTIONS:
        n = max(1, int(spec.n_items * scale))
        out[spec.cid] = make_items(rng, spec, n, EPOCH_US, EPOCH_US + SPAN_US, 0)
    return out


def landing_batch(seed: int, k: int, base: Items, n: int) -> Items:
    """The ``k``-th batch of ``n`` new items landing in ``base``'s
    collection: fresh ids after every existing one, acquired in the six
    months after the catalog's span."""
    rng = np.random.default_rng([seed, 7919, k])
    t_lo = EPOCH_US + SPAN_US + k * 7 * DAY_US
    return make_items(rng, base.spec, n, t_lo, t_lo + 7 * DAY_US, len(base) + k * n)


def _wkb_polygons(corners: np.ndarray) -> list[bytes]:
    """Little-endian WKB Polygon, one closed 5-point ring per item."""
    n = len(corners)
    ring = np.concatenate([corners, corners[:, :1]], axis=1).astype("<f8")
    header = np.zeros(n, dtype=[("order", "u1"), ("kind", "<u4"), ("rings", "<u4"), ("npts", "<u4")])
    header["order"], header["kind"], header["rings"], header["npts"] = 1, 3, 1, 5
    blob = np.concatenate([header.view(np.uint8).reshape(n, 13), ring.reshape(n, 10).view(np.uint8)], axis=1)
    return [row.tobytes() for row in blob]


def _ts(a: np.ndarray) -> pa.Array:
    return pa.array(np.where(a < 0, 0, a), pa.timestamp("us", tz="UTC"), mask=a < 0)


def to_table(items: Items) -> pa.Table:
    spec = items.spec
    extra_type = pa.int32() if spec.extra == "landsat:wrs_path" else pa.string()
    return pa.table(
        {
            "id": pa.array(items.ids, pa.string()),
            "type": pa.array(["Feature"] * len(items), pa.string()),
            "geometry": pa.array(_wkb_polygons(items.corners), pa.binary()),
            "bbox": pa.array(list(items.bbox), pa.list_(pa.float64())),
            "datetime": _ts(items.dt),
            "start_datetime": _ts(items.start),
            "end_datetime": _ts(items.end),
            "platform": pa.array(items.platform, pa.string()),
            "eo:cloud_cover": pa.array(items.cloud, pa.float64()),
            "gsd": pa.array(np.full(len(items), spec.gsd)),
            "proj:epsg": pa.array(np.full(len(items), spec.epsg, dtype=np.int32)),
            spec.extra: pa.array(list(items.extra), extra_type),
        }
    )


def write_collection(items: Items, path: str) -> None:
    """One GeoParquet file, zstd, fixed-size time-sorted row groups."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(to_table(items), path, compression="zstd", row_group_size=ROW_GROUP_ROWS)


def digest(catalog: dict[str, Items]) -> str:
    """Order-sensitive digest of every generated value."""
    h = hashlib.sha256()
    for cid in sorted(catalog):
        it = catalog[cid]
        h.update(cid.encode())
        for a in (it.corners, it.dt, it.start, it.end, it.cloud):
            h.update(np.ascontiguousarray(a).tobytes())
        for a in (it.ids, it.platform, it.extra):
            h.update("\x1f".join(map(str, a)).encode())
    return h.hexdigest()[:16]
