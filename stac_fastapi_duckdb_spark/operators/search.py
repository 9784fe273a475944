"""Search executor: the reference's ``execute_search`` re-expressed as a
declarative DataFrame plan (SURVEY §3.1 step 4).

Reference pipeline (/root/reference/stac_fastapi/duckdb/database_logic.py:772-1022):
  resolve sources (:810-824) → per-source ``SELECT *, ? AS collection
  FROM read_parquet(?) WHERE ...`` (:831-851) → UNION ALL (:853) →
  ORDER BY (:856-919) → LIMIT+1/OFFSET (:921-934) → fetchdf (:936-945)
  → look-ahead token bookkeeping (:947-955) → SEPARATE count query
  (:957-958, :698-770).

Spark re-expression:
  catalog.sources → ``unionByName(allowMissingColumns=True)`` (fixes the
  positional-union schema hazard, SURVEY §4.4) → ONE ``filter`` over the
  AND-folded predicate Columns (P13) → ``orderBy`` → ``offset/limit`` —
  which Catalyst compiles to TakeOrderedAndProject, a per-partition
  top-k + single merge instead of a global sort.

Count strategy: ``numMatched`` rides the PAGE SCAN via ``df.observe``
(a CollectMetrics node pinned between the filter and the sort). The
ordered page always compiles to a top-k (populate_sort's id tiebreak
guarantees an ordering), and top-k consumes every input row to find the
winners — so the metric sees every matched row during the one page
action. That kills the reference's second full count query per request
(database_logic.py:957-958, the double scan SURVEY §4.3 calls out):
one scan of the union serves both the page and the exact count.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stac_fastapi_duckdb_spark.errors import InvalidQueryError, NotFoundError
from stac_fastapi_duckdb_spark.functions.timestamps import rows_to_dicts
from stac_fastapi_duckdb_spark.operators import pagination as pg
from stac_fastapi_duckdb_spark.operators.cql2 import cql2_to_column, safe_col
from stac_fastapi_duckdb_spark.operators.datetime_filter import (
    datetime_predicate,
    parse_datetime_interval,
)
from stac_fastapi_duckdb_spark.operators.sort import (
    populate_sort,
    resolve_sort_field,
)
from stac_fastapi_duckdb_spark.operators.spatial import (
    bbox_predicate,
    intersects_predicate,
)
from stac_fastapi_duckdb_spark.operators.stacql import stacql_to_column
from stac_fastapi_duckdb_spark.sources.catalog import (
    CollectionCatalog,
    PointReadUnavailable,
)


class SearchBuilder:
    """Accumulates predicates as Column expressions — the Spark analog
    of the reference's ``search`` dict of raw SQL strings
    (database_logic.py:205-209 and the apply_*_filter family)."""

    def __init__(self, catalog: CollectionCatalog) -> None:
        self.catalog = catalog
        self.collection_ids: list[str] | None = None
        # predicate builders, each called with the union's columns; the
        # AND-fold keeps their apply order
        self._predicates: list[Callable[[list[str]], Column]] = []

    # each apply_* mirrors one reference apply_*_filter static method
    def apply_collections(self, ids: list[str] | None) -> "SearchBuilder":
        if ids:
            self.collection_ids = list(ids)  # database_logic.py:217-221
        return self

    def apply_ids(self, ids: list[str] | None) -> "SearchBuilder":
        if ids:
            ids = list(ids)
            self._predicates.append(lambda cols: F.col("id").isin(ids))  # :211-215
        return self

    def apply_datetime(self, interval: str | None) -> "SearchBuilder":
        if interval:
            spec = parse_datetime_interval(interval)  # a bad interval 400s here
            self._predicates.append(lambda cols: datetime_predicate(spec, cols))  # :223-315
        return self

    def apply_bbox(self, bbox: Any) -> "SearchBuilder":
        if bbox is not None and bbox != []:
            self._predicates.append(lambda cols: bbox_predicate(bbox, cols))  # :349-416
        return self

    def apply_intersects(self, geometry: dict | None) -> "SearchBuilder":
        if geometry:
            self._predicates.append(
                lambda cols: intersects_predicate(geometry, cols)
            )  # :418-448
        return self

    def apply_cql2(self, flt: dict | None) -> "SearchBuilder":
        if flt:
            self._predicates.append(lambda cols: cql2_to_column(flt, cols))  # :488-521
        return self

    def apply_stacql(self, query: dict | None) -> "SearchBuilder":
        if query:
            self._predicates.append(lambda cols: stacql_to_column(query, cols))  # :450-486
        return self

    # ------------------------------------------------------------------
    def dataframe(self) -> DataFrame:
        """Materialize the filtered union plan (no action yet)."""
        return self.dataframe_and_schema()[0]

    def dataframe_and_schema(self) -> tuple[DataFrame, StructType]:
        """The filtered union plan and the union's schema. Reading the
        schema costs a py4j round trip and a schema parse, so callers
        take it from here instead of asking the plan again."""
        sources = self.catalog.sources(self.collection_ids)
        if not sources:
            raise InvalidQueryError("No collections configured")
        # unionByName handles schema drift across collections (SURVEY U1)
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (d for _, d in sources),
        )
        schema = df.schema
        columns = schema.fieldNames()
        preds = [fn(columns) for fn in self._predicates]
        if preds:
            df = df.filter(reduce(lambda a, b: a & b, preds))  # P13 AND-fold
        return df, schema


def search_plan(
    catalog: CollectionCatalog,
    *,
    collection_ids: list[str] | None = None,
    item_ids: list[str] | None = None,
    bbox: Any = None,
    intersects: dict | None = None,
    datetime_interval: str | None = None,
    cql2_filter: dict | None = None,
    query: dict | None = None,
) -> tuple[DataFrame, StructType]:
    """The STAC filter inputs → the filtered union plan and its schema.
    The one compile both ``execute_search`` and ``aggregate_search`` run."""
    return (
        SearchBuilder(catalog)
        .apply_collections(collection_ids)
        .apply_ids(item_ids)
        .apply_datetime(datetime_interval)
        .apply_bbox(bbox)
        .apply_intersects(intersects)
        .apply_cql2(cql2_filter)
        .apply_stacql(query)
        .dataframe_and_schema()
    )


def execute_search(
    catalog: CollectionCatalog,
    *,
    sortby: Any = None,
    limit: int = 10,
    token: str | None = None,
    fields: list[str] | dict | None = None,
    **filters: Any,
) -> tuple[list[dict], int, str | None]:
    """→ (item rows as dicts, numMatched, next_token).

    ``filters``: the keyword arguments of ``search_plan`` (collection_ids,
    item_ids, bbox, intersects, datetime_interval, cql2_filter, query).

    ``fields``: Fields-extension projection pushed into the PLAN (the
    reference trims JSON after fetching every column — SURVEY P1; here
    unselected columns never leave the parquet reader). Either an
    include list, or the extension's full ``{"include": [...],
    "exclude": [...]}`` form: include-only keeps those columns,
    exclude-only keeps everything else, both → include minus exclude.
    Columns required for sorting/serialization (id, collection,
    geometry) are always retained.
    """
    if limit < 1:
        raise InvalidQueryError(f"limit must be >= 1, got {limit}")

    filtered, schema = search_plan(catalog, **filters)
    columns = schema.fieldNames()
    sort_specs = [
        (resolve_sort_field(f, columns), d)
        for f, d in populate_sort(sortby)
    ]
    sort_specs = [(f, d) for f, d in sort_specs if f is not None]
    # NULLS LAST on BOTH directions: DuckDB (the reference engine)
    # defaults to NULLS LAST for asc AND desc, while Spark's bare desc()
    # is nulls-first — without it, sortby=-datetime would surface
    # interval-only (NULL datetime) items on page 1
    order_cols = [
        (safe_col(f).asc_nulls_last() if d > 0 else safe_col(f).desc_nulls_last())
        for f, d in sort_specs
    ]

    offset, keyset = pg.parse_token(token)
    page_df = filtered
    if fields is not None:
        if isinstance(fields, dict):
            include = fields.get("include")
            exclude = set(fields.get("exclude") or ())
        else:
            include, exclude = fields, set()
        protected = {"id", "collection", "geometry"} | {f for f, _ in sort_specs}
        keep = set(protected)
        if include is not None:
            keep.update(f for f in include if f in columns)
        else:  # exclude-only form: start from the full column set
            keep.update(columns)
        keep -= exclude - protected
        page_df = page_df.select(*[safe_col(c) for c in columns if c in keep])

    # numMatched piggybacks on the PAGE SCAN: a CollectMetrics node
    # pinned here — above the filter + fields projection (so column
    # pruning still reaches the parquet reader), below the keyset
    # filter and top-k (so keyset-paged requests still report the FULL
    # result size, matching the reference's standalone count). The
    # top-k above consumes every input row to pick the winners, so the
    # metric is complete after the one page action — no second scan.
    # Guard: without an ordering the limit is a bare LocalLimit that
    # early-exits the scan, which would undercount — fall back to a
    # separate count action then (only possible on tables with no id
    # column; STAC items always sort by the id tiebreak).
    observation = None
    if order_cols:
        from pyspark.sql import Observation

        observation = Observation()
        page_df = page_df.observe(
            observation, F.count(F.lit(1)).alias("matched")
        )

    if keyset is not None and sort_specs:
        page_df = page_df.filter(_keyset_predicate(sort_specs, keyset))
        offset = 0
    page_df = page_df.orderBy(*order_cols)
    if offset:
        page_df = page_df.offset(offset)
    # limit+1 look-ahead (database_logic.py:930-951)
    rows = page_df.limit(limit + 1).collect()

    has_more = len(rows) > limit
    items = rows_to_dicts(rows[:limit], schema)

    next_token: str | None = None
    if has_more and items:
        if keyset is not None:
            next_token = pg.keyset_token([items[-1][f] for f, _ in sort_specs])
        else:
            next_token = pg.offset_token(offset, limit)

    if observation is not None:
        # metric was computed BY the page collect above — no second scan
        matched = observation.get["matched"]
    else:
        matched = filtered.count()  # unordered-page fallback (see guard)

    return items, matched, next_token


def _keyset_predicate(sort_specs: list[tuple[str, int]], last: list[Any]) -> Column:
    """Row-comparison (a, b) > (la, lb) with per-key direction — the
    search-after predicate for keyset pagination (SURVEY §4.3).

    Null-aware under the NULLS LAST ordering both directions use:
    - the equality prefix is ``eqNullSafe`` (a NULL sort-key value on the
      boundary row must still anchor deeper tiebreak terms — a plain
      ``==`` evaluates to NULL and silently drops every remaining page),
    - "strictly after a non-NULL v" additionally includes the NULL
      region (nulls sort after every non-null value in both directions),
    - "strictly after NULL" within one key is impossible — only deeper
      tiebreak keys can advance, via the eqNullSafe prefix.
    The id tiebreaker populate_sort always appends is non-null, so
    pagination always terminates.
    """
    if len(last) != len(sort_specs):
        raise InvalidQueryError("keyset token does not match sort specification")
    pred: Column | None = None
    for i, (field, direction) in enumerate(sort_specs):
        eq_prefix: Column | None = None
        for f, v in ((f2, last[j]) for j, (f2, _d2) in enumerate(sort_specs[:i])):
            c = safe_col(f).eqNullSafe(F.lit(v))
            eq_prefix = c if eq_prefix is None else eq_prefix & c
        c = safe_col(field)
        v = last[i]
        if v is None:
            strict = F.lit(False)
        else:
            base = c > F.lit(v) if direction > 0 else c < F.lit(v)
            strict = base | c.isNull()
        term = strict if eq_prefix is None else eq_prefix & strict
        pred = term if pred is None else pred | term
    assert pred is not None
    return pred


def get_one_item(catalog: CollectionCatalog, collection_id: str, item_id: str) -> dict:
    """Point lookup (reference get_one_item, database_logic.py:156-189);
    missing → NotFoundError. Two readers:

    - ``CollectionCatalog.point_read``: every local parquet collection
      is answered driver-side (lazy manifest prune + pyarrow row-group
      predicate read, a few ms, no Spark job — equivalence-tested
      against the Spark plan in tests/test_pointread.py);
    - otherwise (``PointReadUnavailable``) one Spark filter over
      ``items_df`` with limit(1) on ``id``'s string form, which keeps
      parquet row-group pushdown on a string ``id``."""
    try:
        row = catalog.point_read(collection_id, item_id)
    except PointReadUnavailable:
        df = catalog.items_df(collection_id)
        rows = df.filter(F.col("id").cast("string") == item_id).limit(1).collect()
        row = rows_to_dicts(rows, df.schema)[0] if rows else None
    if row is None:
        raise NotFoundError(
            f"Item {item_id} in collection {collection_id} not found"
        )
    return row
