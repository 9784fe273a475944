"""Written-sidecar artifact tier (sources/sidecar.py + the
_artifact_df wiring in plans/entry_queries.py).

Contract under test: corpus-constant artifacts are written once per
ingest with a fingerprint of their SOURCE files; a new session whose
sources still match serves from disk with zero rebuilds; a source
change invalidates the fingerprint and the artifact rebuilds."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.sources import sidecar as sc

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def sidecar_root(tmp_path, monkeypatch):
    root = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", root)
    return root


@pytest.fixture()
def sf_copy(tmp_path):
    """A mutable copy of the sf0.001 dataset (the real testdata is
    read-only by contract)."""
    d = tmp_path / "sfcopy"
    d.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copyfile(f"{SF}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def test_fingerprint_tracks_content_and_mtime(tmp_path):
    p = tmp_path / "t.parquet"
    p.write_bytes(b"aaaa")
    fp1 = sc.source_fingerprint(str(p))
    assert fp1 == sc.source_fingerprint(str(p))  # stable
    os.utime(p, ns=(1, 1))
    fp2 = sc.source_fingerprint(str(p))
    assert fp2 != fp1  # mtime change invalidates
    p.write_bytes(b"bbbbbb")
    assert sc.source_fingerprint(str(p)) != fp2  # size change invalidates
    assert sc.source_fingerprint(str(tmp_path / "missing")) != fp1


def test_dataset_tag_disambiguates_same_basename(tmp_path):
    a = tmp_path / "x" / "sf0.01"
    b = tmp_path / "y" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    assert sc.dataset_tag(str(a)) != sc.dataset_tag(str(b))
    assert sc.dataset_tag(str(a)).startswith("sf0.01-")


def test_write_load_round_trip_and_meta(spark, sidecar_root):
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 0.5).alias("v")
    )
    sc.write_sidecar(df, "fam", "tag", "fp1", extra={"n": 10, "a": 1.5})
    got = sc.load_sidecar(spark, "fam", "tag", "fp1")
    assert got is not None
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    assert sc.load_meta("fam", "tag", "fp1") == {"n": 10, "a": 1.5}
    # wrong fingerprint → stale → absent
    assert sc.load_sidecar(spark, "fam", "tag", "fp2") is None
    assert sc.load_meta("fam", "tag", "fp2") is None
    # unknown family → absent
    assert sc.load_sidecar(spark, "nope", "tag", "fp1") is None


def test_crash_between_data_and_meta_reads_as_absent(spark, sidecar_root):
    df = spark.range(5)
    sc.write_sidecar(df, "fam", "tag", "fp1")
    # simulate the crash window: data exists, meta (the commit) missing
    os.remove(os.path.join(sidecar_root, "fam", "tag", "meta.json"))
    assert sc.load_sidecar(spark, "fam", "tag", "fp1") is None
    with pytest.raises(FileNotFoundError):
        sc.data_path("fam", "tag")


def test_append_sidecar_grows_without_rewriting_base(
    spark, sidecar_root, monkeypatch
):
    """The per-ingest-batch delta path: a delta lands in its OWN data
    directory (the base is never rewritten), the pointer commits the
    grown list atomically, and readers scan base+deltas as one
    DataFrame. A full write_sidecar afterwards compacts and (grace 0
    here) sweeps every superseded directory."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "0")
    sc.write_sidecar(spark.range(0, 5), "fam", "tag", "fp1")
    base = sc.data_path("fam", "tag")
    base_mtimes = {
        f: os.path.getmtime(os.path.join(base, f)) for f in os.listdir(base)
    }
    sc.append_sidecar(spark.range(5, 8), "fam", "tag", "fp2")
    dirs = sc.data_paths("fam", "tag")
    assert len(dirs) == 2 and dirs[0] == base
    # the base directory was not touched by the append
    assert {
        f: os.path.getmtime(os.path.join(base, f)) for f in os.listdir(base)
    } == base_mtimes
    got = sc.load_sidecar(spark, "fam", "tag", "fp2")
    assert sorted(r["id"] for r in got.collect()) == list(range(8))
    # stale fingerprint (pre-append) no longer serves
    assert sc.load_sidecar(spark, "fam", "tag", "fp1") is None
    # single-path accessor refuses on a multi-dir artifact
    with pytest.raises(ValueError):
        sc.data_path("fam", "tag")
    # compaction: a full rewrite sweeps base + delta
    sc.write_sidecar(spark.range(0, 8), "fam", "tag", "fp3")
    assert not os.path.exists(dirs[0]) and not os.path.exists(dirs[1])
    assert sc.load_sidecar(spark, "fam", "tag", "fp3").count() == 8


def test_append_sidecar_requires_a_base(spark, sidecar_root):
    with pytest.raises(FileNotFoundError):
        sc.append_sidecar(spark.range(3), "fam", "nobase", "fp1")


def test_append_sidecar_replaces_extra_meta(spark, sidecar_root):
    sc.write_sidecar(
        spark.range(2), "fam", "tag", "fp1", extra={"n": 2}
    )
    sc.append_sidecar(
        spark.range(2, 5), "fam", "tag", "fp2", extra={"n": 5}
    )
    assert sc.load_meta("fam", "tag", "fp2") == {"n": 5}
    # omitting extra keeps the previous scalar metadata
    sc.append_sidecar(spark.range(5, 6), "fam", "tag", "fp3")
    assert sc.load_meta("fam", "tag", "fp3") == {"n": 5}


def test_bm25_incremental_totals_match_one_shot(spark):
    """Incremental index maintenance: exact corpus totals of disjoint
    ingest batches merge by addition and reproduce the one-shot
    (n_docs, avgdl) BIT-identically — including NULL-text rows, which
    count toward n_docs but not toward avgdl."""
    from stac_fastapi_duckdb_spark.pipeline import text as T

    b1 = spark.createDataFrame(
        [(1, "spark join scan"), (2, None), (3, "a b c d e")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(4, "one two"), (5, ""), (6, "x y z w")],
        "doc_id long, text string",
    )
    one_shot = T.bm25_corpus_stats(b1.unionByName(b2))
    merged = T.bm25_stats_from_totals(
        T.bm25_merge_totals(
            T.bm25_corpus_totals(b1), T.bm25_corpus_totals(b2)
        )
    )
    assert merged == one_shot  # exact doubles, not approx
    # postings of disjoint batches are the one-shot index's partition
    full = {
        (r["doc_id"], r["term"], r["tf"])
        for r in T.bm25_tf_index(b1.unionByName(b2)).collect()
    }
    parts = {
        (r["doc_id"], r["term"], r["tf"])
        for r in T.bm25_tf_index(b1).collect()
    } | {
        (r["doc_id"], r["term"], r["tf"])
        for r in T.bm25_tf_index(b2).collect()
    }
    assert full == parts


def test_standing_line_set_appends_equivalently(spark, sidecar_root):
    """The standing line-hash set maintained by appends must dedup a
    later batch identically to a set rebuilt from the full corpus —
    the incremental_line_dedup new_hashes delta IS the append."""
    from stac_fastapi_duckdb_spark.pipeline.text import (
        incremental_line_dedup,
        keyed_lines,
    )

    batch1 = spark.createDataFrame(
        [(1, "first shared line of text\nunique to batch one yes")],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(2, "second batch adds this line\nfirst shared line of text")],
        "doc_id long, text string",
    )
    batch3 = spark.createDataFrame(
        [
            (
                3,
                "first shared line of text\nsecond batch adds this line\n"
                "a genuinely new third line",
            )
        ],
        "doc_id long, text string",
    )
    kl1 = keyed_lines(batch1)
    base = (
        kl1.filter(F.col("_e"))
        .select(F.col("_k").alias("h"))
        .distinct()
    )
    sc.write_sidecar(base, "standing", "t", "fp1", extra=None)
    standing1 = sc.load_sidecar(spark, "standing", "t", "fp1")
    _, delta = incremental_line_dedup(batch2, standing1, base_distinct=True)
    sc.append_sidecar(delta, "standing", "t", "fp2")
    standing2 = sc.load_sidecar(spark, "standing", "t", "fp2")
    got, _ = incremental_line_dedup(batch3, standing2, base_distinct=True)
    # rebuilt-from-scratch reference: all batch1+2 SURVIVING lines
    rebuilt = base.unionByName(
        incremental_line_dedup(batch2, base, base_distinct=True)[1]
    )
    want, _ = incremental_line_dedup(batch3, rebuilt, base_distinct=True)
    assert [tuple(r) for r in got.orderBy("doc_id").collect()] == [
        tuple(r) for r in want.orderBy("doc_id").collect()
    ]
    # and the survivor is only the genuinely new line
    assert got.collect()[0]["text_deduped"] == "a genuinely new third line"


def test_pointer_commit_swings_and_sweeps(spark, sidecar_root, monkeypatch):
    """A rewrite lands in a fresh data dir, the meta pointer swings
    atomically, and the superseded dir is swept (grace 0) — readers can
    never observe a half-overwritten directory."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "0")
    sc.write_sidecar(spark.range(5), "fam", "tag", "fp1")
    d1 = sc.data_path("fam", "tag")
    assert sc.load_sidecar(spark, "fam", "tag", "fp1").count() == 5
    sc.write_sidecar(spark.range(9), "fam", "tag", "fp2")
    d2 = sc.data_path("fam", "tag")
    assert d1 != d2
    assert not os.path.exists(d1)  # superseded dir swept
    assert sc.load_sidecar(spark, "fam", "tag", "fp1") is None  # stale
    assert sc.load_sidecar(spark, "fam", "tag", "fp2").count() == 9


def test_append_chain_compacts_past_max_deltas(
    spark, sidecar_root, monkeypatch
):
    """Standing ingest must not grow the reader's directory fan without
    bound: past max_deltas appended directories the chain compacts back
    to ONE directory with identical rows and preserved scalar
    metadata, and (grace 0) the superseded chain is swept."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "0")
    sc.write_sidecar(
        spark.range(0, 3), "fam", "tag", "fp0", extra={"n": 3}
    )
    paths = None
    for i in range(3):
        paths = sc.append_sidecar(
            spark.range(3 * (i + 1), 3 * (i + 2)),
            "fam",
            "tag",
            f"fp{i + 1}",
            extra={"n": 3 * (i + 2)},
            max_deltas=1,
        )
    # every append pushes the chain to 2 dirs > max_deltas=1 → compacts
    assert paths is not None and len(paths) == 1
    assert sc.data_paths("fam", "tag") == paths  # committed pointer
    slot = os.path.join(sidecar_root, "fam", "tag")
    data_dirs = [d for d in os.listdir(slot) if d.startswith("data-")]
    assert data_dirs == [os.path.basename(paths[0])]  # chain swept
    got = sc.load_sidecar(spark, "fam", "tag", "fp3")
    assert sorted(r["id"] for r in got.collect()) == list(range(12))
    assert sc.load_meta("fam", "tag", "fp3") == {"n": 12}
    # single-path accessor works again on the compacted artifact
    assert sc.data_path("fam", "tag") == paths[0]


def test_orphan_gc_sweeps_stale_preserves_fresh(spark, sidecar_root, monkeypatch):
    """Crash-orphaned data dirs (a writer that never committed) are
    swept on a later write once OLDER than the grace window; a fresh
    uncommitted dir — possibly a concurrent builder mid-write — is
    preserved."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "100")
    sc.write_sidecar(spark.range(3), "fam", "tag", "fp1")
    slot = os.path.join(sidecar_root, "fam", "tag")
    stale = os.path.join(slot, "data-stale000000")
    fresh = os.path.join(slot, "data-fresh000000")
    for d in (stale, fresh):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as fh:
            fh.write(b"x")
    os.utime(stale, (1, 1))  # ancient mtime: well past the grace
    sc.write_sidecar(spark.range(4), "fam", "tag", "fp2")
    assert not os.path.exists(stale)  # orphan swept
    assert os.path.exists(fresh)  # in-flight builder preserved
    assert sc.load_sidecar(spark, "fam", "tag", "fp2").count() == 4


def test_superseded_dir_retained_within_grace(spark, sidecar_root):
    """A lazy DataFrame loaded just before a rebuild keeps resolving:
    the superseded directory is retained for the (default 15 min) grace
    window instead of vanishing at commit time."""
    sc.write_sidecar(spark.range(7), "fam", "tag", "fp1")
    d1 = sc.data_path("fam", "tag")
    reader = sc.load_sidecar(spark, "fam", "tag", "fp1")  # lazy
    sc.write_sidecar(spark.range(2), "fam", "tag", "fp2")
    assert os.path.exists(d1)  # retained within grace
    assert reader.count() == 7  # pre-rebuild reader still resolves
    assert sc.load_sidecar(spark, "fam", "tag", "fp2").count() == 2


def test_grace_counts_from_supersession_not_creation(
    spark, sidecar_root, monkeypatch
):
    """An artifact OLDER than the grace window must still protect its
    lazy readers when it is superseded: the commit restarts the grace
    clock on the superseded directory (mtime touch), so 'retained for
    the window' means the window after the REBUILD, not after the
    original write."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "100")
    sc.write_sidecar(spark.range(6), "fam", "tag", "fp1")
    d1 = sc.data_path("fam", "tag")
    os.utime(d1, (1, 1))  # artifact written "long ago"
    reader = sc.load_sidecar(spark, "fam", "tag", "fp1")  # lazy
    sc.write_sidecar(spark.range(3), "fam", "tag", "fp2")  # rebuild
    assert os.path.exists(d1)  # grace restarted at supersession
    assert reader.count() == 6  # pre-rebuild reader still resolves
    # and the touched dir becomes sweep-eligible once the (new) clock
    # runs out
    os.utime(d1, (1, 1))
    sc.write_sidecar(spark.range(2), "fam", "tag", "fp3")
    assert not os.path.exists(d1)


def test_compaction_preserves_recorded_layout(spark, sidecar_root, monkeypatch):
    """The base's serving layout (partitions/sort order/row-group
    size) is part of the artifact contract: a compaction that rewrote
    a term-sorted stat-pruned index unsorted would silently degrade
    every later probe. The layout is recorded at write and reproduced
    at compaction."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "0")
    base = spark.range(100).select(
        (F.col("id") % 7).alias("term"), F.col("id").alias("doc_id")
    )
    sc.write_sidecar(
        base, "fam", "tag", "fp0",
        partitions=1, sort_cols=("term", "doc_id"), block_size=1 << 20,
    )
    sc.append_sidecar(
        spark.range(100, 110).select(
            (F.col("id") % 7).alias("term"), F.col("id").alias("doc_id")
        ),
        "fam", "tag", "fp1", max_deltas=0,
    )
    meta = sc._read_meta("fam", "tag", None)
    assert isinstance(meta["data"], str)  # compacted to one dir
    assert meta["layout"]["partitions"] == 1
    assert meta["layout"]["sort_cols"] == ["term", "doc_id"]
    assert meta["layout"]["block_size"] == 1 << 20
    # one file (partitions=1), rows sorted by (term, doc_id) within it
    got = sc.load_sidecar(spark, "fam", "tag", "fp1")
    rows = [(r["term"], r["doc_id"]) for r in got.collect()]
    assert len(rows) == 110
    d = sc.data_path("fam", "tag")
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 1
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(d, files[0]))
    pairs = list(zip(tbl["term"].to_pylist(), tbl["doc_id"].to_pylist()))
    assert pairs == sorted(pairs)  # sort order reproduced on disk


def test_compaction_layout_record_wins_over_delta_shape_args(
    spark, sidecar_root, monkeypatch
):
    """An appender's shape args describe the DELTA it just wrote, not
    the artifact: compaction must reproduce the base's recorded layout
    even when the triggering append passed its own (smaller) shape."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "0")
    sc.write_sidecar(
        spark.range(60).select(
            (F.col("id") % 5).alias("term"), F.col("id").alias("doc_id")
        ),
        "fam", "tag", "fp0",
        partitions=4, sort_cols=("term", "doc_id"),
    )
    sc.append_sidecar(
        spark.range(60, 66).select(
            (F.col("id") % 5).alias("term"), F.col("id").alias("doc_id")
        ),
        "fam", "tag", "fp1",
        partitions=1,  # delta shaping — must NOT become the layout
        max_deltas=0,
    )
    meta = sc._read_meta("fam", "tag", None)
    assert isinstance(meta["data"], str)  # compacted
    assert meta["layout"]["partitions"] == 4  # base layout reproduced
    assert meta["layout"]["sort_cols"] == ["term", "doc_id"]
    d = sc.data_path("fam", "tag")
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 4  # not collapsed to the delta's 1 partition
    assert sc.load_sidecar(spark, "fam", "tag", "fp1").count() == 66


def test_compaction_loses_race_to_concurrent_append(
    spark, sidecar_root, monkeypatch
):
    """A delta committed by a concurrent appender DURING the compaction
    rewrite must not be discarded: the compacted pointer is an epoch
    compare-and-swap, so ANY commit landing after the compaction's
    chain was read advances the epoch and the CAS loses — the winner's
    chain stands and the compacted directory is abandoned to the age
    gate."""
    import json as _json

    sc.write_sidecar(spark.range(0, 5), "fam", "tag", "fp0")
    sc.append_sidecar(spark.range(5, 8), "fam", "tag", "fp1", max_deltas=9)
    slot = os.path.join(sidecar_root, "fam", "tag")
    mp = os.path.join(slot, "meta.json")
    real_read_meta = sc._read_meta
    state = {"calls": 0}

    def racing_read_meta(family, tag, root):
        state["calls"] += 1
        # _read_meta call order inside the racing append_sidecar:
        # 1 = prev chain read, 2 = the append's own commit (inside
        # _commit_meta), 3 = the compaction CAS's epoch re-read — land
        # a concurrent append (epoch-bumped, as any real commit through
        # _commit_meta would be) just before the CAS reads
        if state["calls"] == 3:
            spark.range(100, 104).coalesce(1).write.parquet(
                os.path.join(slot, "data-concurrent0")
            )
            m = _json.load(open(mp))
            m["data"] = (
                [m["data"]] if isinstance(m["data"], str) else m["data"]
            ) + ["data-concurrent0"]
            m["fingerprint"] = "fpB"
            m["epoch"] = int(m.get("epoch", 0)) + 1
            with open(mp, "w") as fh:
                _json.dump(m, fh)
        return real_read_meta(family, tag, root)

    monkeypatch.setattr(sc, "_read_meta", racing_read_meta)
    paths = sc.append_sidecar(
        spark.range(8, 10), "fam", "tag", "fp2", max_deltas=1
    )
    monkeypatch.setattr(sc, "_read_meta", real_read_meta)
    # the winner's chain stands: 4 dirs (base + 2 deltas + concurrent)
    meta = sc._read_meta("fam", "tag", None)
    assert meta["fingerprint"] == "fpB"
    assert len(meta["data"]) == 4
    assert paths == sc.data_paths("fam", "tag")
    # every row — including the concurrent append's — is served
    got = sc.load_sidecar(spark, "fam", "tag", "fpB")
    assert sorted(r["id"] for r in got.collect()) == list(range(10)) + [
        100, 101, 102, 103,
    ]
    # the abandoned compacted output was never promoted out of the
    # staging namespace (the lost CAS leaves it for the staging-floor
    # sweep); the data-* namespace holds exactly the live chain
    dirs = {d for d in os.listdir(slot) if d.startswith("data-")}
    assert len(dirs) == 4  # the live chain only
    stages = {d for d in os.listdir(slot) if d.startswith("stage-")}
    assert len(stages) == 1  # the abandoned compaction rewrite


def test_artifact_df_resplits_single_file_sidecar(spark, sidecar_root):
    """A row-heavy artifact written as ONE file (AQE small-output
    coalescing, or a pre-round-10 sidecar) must not serialize its
    consumers' partial aggregates: _artifact_df's `partitions` hint
    re-splits the cached form on load."""
    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    _fresh_session_caches(eq, spark)
    # plant a committed single-file sidecar under the family's slot
    fp = sc.source_fingerprint("/root/testdata/sf0.001/documents.parquet")
    tag = sc.dataset_tag("/root/testdata/sf0.001")
    sc.write_sidecar(
        spark.range(50_000).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("line")
        ),
        "resplit_fam",
        tag,
        fp,
        partitions=1,
    )
    served = eq._artifact_df(
        spark,
        "resplit_fam",
        "/root/testdata/sf0.001",
        build=lambda: pytest.fail("must serve from the planted sidecar"),
        partitions=16,
    )
    assert served.rdd.getNumPartitions() >= 16
    assert served.count() == 50_000


def test_racing_writers_last_commit_wins(spark, sidecar_root):
    """Two builders racing the same slot: both produce COMPLETE data
    directories, the meta pointer lands on the last committer, and
    (within the grace window) the loser's directory is retained so any
    reader that loaded its pointer first still resolves."""
    import threading

    errs = []

    def build(fp, n):
        try:
            sc.write_sidecar(spark.range(n), "fam", "race", fp)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    t1 = threading.Thread(target=build, args=("fpA", 5))
    t2 = threading.Thread(target=build, args=("fpB", 9))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    # exactly one fingerprint is committed; its rows are complete
    meta = sc._read_meta("fam", "race", None)
    assert meta["fingerprint"] in ("fpA", "fpB")
    winner_rows = 5 if meta["fingerprint"] == "fpA" else 9
    got = sc.load_sidecar(spark, "fam", "race", meta["fingerprint"])
    assert got.count() == winner_rows
    # both directories are complete on disk (grace retention)
    slot = os.path.join(sidecar_root, "fam", "race")
    dirs = [d for d in os.listdir(slot) if d.startswith("data-")]
    assert len(dirs) == 2
    for d in dirs:
        assert any(
            f.endswith(".parquet") for f in os.listdir(os.path.join(slot, d))
        )
        assert spark.read.parquet(os.path.join(slot, d)).count() in (5, 9)


def test_lifecycle_sequences_always_serve_expected_rows(
    spark, sidecar_root, monkeypatch
):
    """Property over randomized lifecycle sequences: whatever order of
    writes and appends (with compaction triggering at varying chain
    lengths and grace 0 or large), load_sidecar at the latest
    fingerprint always returns exactly the expected row set, and the
    committed pointer only references directories that exist."""
    import random

    rng = random.Random(20260816)
    for case in range(4):
        grace = rng.choice(["0", "900"])
        monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", grace)
        fam, tag = "fam", f"seq{case}"
        expected: set[int] = set()
        nxt = 0
        fp = "fp0"
        # first op must be a write (append requires a base)
        ops = ["write"] + [
            rng.choice(["write", "append", "append"]) for _ in range(5)
        ]
        for i, op in enumerate(ops):
            lo, hi = nxt, nxt + rng.randint(1, 4)
            nxt = hi
            fp = f"fp{i}"
            if op == "write":
                sc.write_sidecar(spark.range(lo, hi), fam, tag, fp)
                expected = set(range(lo, hi))
            else:
                sc.append_sidecar(
                    spark.range(lo, hi), fam, tag, fp,
                    max_deltas=rng.choice([1, 2, 8]),
                )
                expected |= set(range(lo, hi))
            got = sc.load_sidecar(spark, fam, tag, fp)
            assert got is not None, (case, i, op, grace)
            assert {r["id"] for r in got.collect()} == expected, (
                case, i, op, grace,
            )
            for p in sc.data_paths(fam, tag):
                assert os.path.isdir(p), (case, i, op, grace, p)
        # stale fingerprints never serve
        assert sc.load_sidecar(spark, fam, tag, "fp0-stale") is None


# --- the wired artifact families -------------------------------------------

# (artifact accessor name, expected sidecar family dir). Each accessor
# lives in plans/entry_queries.py and returns the served DataFrame.
FAMILIES = [
    ("_media_features_artifact", "media_features"),
    ("_fp_stream_artifact", "fp_stream"),
    ("_doubled_fp_annotated_artifact", "doubled_fp_annotated"),
    ("_deletion_sig_artifact", "deletion_sigs"),
    ("_edit_pairs_artifact", "edit_pairs"),
    ("_keyed_lines_artifact", "keyed_lines"),
    ("_incr_flagged_artifact", "incr_flagged"),
    ("_novelty_counts_artifact", "novelty_counts"),
    ("_hashed_vecs", "hashed_vecs"),
    ("_span_dup_map_artifact", "span_dup_map"),
    ("_flagged_lines_artifact", "flagged_lines"),
]


def _fresh_session_caches(eq, spark):
    eq._ARTIFACT_CACHE.pop(spark, None)


@pytest.mark.parametrize("accessor,family", FAMILIES)
def test_artifact_round_trips_across_sessions(
    spark, sidecar_root, accessor, family, monkeypatch
):
    """Build writes the sidecar; a fresh session (cleared memory tier)
    must serve the identical rows from disk WITHOUT rebuilding."""
    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    _fresh_session_caches(eq, spark)
    fn = getattr(eq, accessor)
    first = fn(spark, SF)
    rows1 = sorted(tuple(r) for r in first.collect())
    assert os.path.isdir(os.path.join(sidecar_root, family))
    _fresh_session_caches(eq, spark)
    monkeypatch.setattr(
        sc,
        "write_sidecar",
        lambda *a, **k: pytest.fail(f"{family}: rebuild on warm sidecar"),
    )
    rows2 = sorted(tuple(r) for r in fn(spark, SF).collect())
    assert rows2 == rows1


def test_bm25_artifact_round_trips_with_lexicon_and_stats(
    spark, sidecar_root, monkeypatch
):
    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    _fresh_session_caches(eq, spark)
    idx1 = eq._bm25_artifact(spark, SF)
    assert idx1["n"] > 0 and idx1["avgdl"] > 0 and idx1["lex"]
    assert os.path.isdir(os.path.join(sidecar_root, "bm25_tf"))
    assert os.path.isdir(os.path.join(sidecar_root, "bm25_lexicon"))
    _fresh_session_caches(eq, spark)
    monkeypatch.setattr(
        sc,
        "write_sidecar",
        lambda *a, **k: pytest.fail("bm25: rebuild on warm sidecar"),
    )
    idx2 = eq._bm25_artifact(spark, SF)
    assert idx2["n"] == idx1["n"] and idx2["avgdl"] == idx1["avgdl"]
    assert idx2["lex"] == idx1["lex"]
    assert sorted(tuple(r) for r in idx2["tf"].collect()) == sorted(
        tuple(r) for r in idx1["tf"].collect()
    )


def test_bm25_artifact_rebuilds_on_missing_or_stale_lexicon(
    spark, sidecar_root
):
    """The lexicon lives in its OWN sidecar slot: if it is missing (or
    committed at a different fingerprint) while bm25_tf still
    fingerprint-matches, the whole artifact must rebuild — never raise
    FileNotFoundError, never serve a lexicon inconsistent with the
    postings/stats."""
    import shutil as _sh

    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    _fresh_session_caches(eq, spark)
    idx1 = eq._bm25_artifact(spark, SF)
    # simulate the race/crash: lexicon slot vanishes, bm25_tf stays
    _sh.rmtree(os.path.join(sidecar_root, "bm25_lexicon"))
    _fresh_session_caches(eq, spark)
    idx2 = eq._bm25_artifact(spark, SF)  # rebuilds, no FileNotFoundError
    assert idx2["lex"] == idx1["lex"]
    assert os.path.isdir(os.path.join(sidecar_root, "bm25_lexicon"))
    # lexicon committed at a DIFFERENT fingerprint → also a rebuild
    tag = sc.dataset_tag(SF)
    lexdir = os.path.join(sidecar_root, "bm25_lexicon", tag, "meta.json")
    import json as _json

    with open(lexdir) as fh:
        meta = _json.load(fh)
    meta["fingerprint"] = "someone-elses-corpus"
    with open(lexdir, "w") as fh:
        _json.dump(meta, fh)
    _fresh_session_caches(eq, spark)
    idx3 = eq._bm25_artifact(spark, SF)
    assert idx3["lex"] == idx1["lex"]


def test_lm_artifact_round_trips_exact_doubles(
    spark, sidecar_root, monkeypatch
):
    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    _fresh_session_caches(eq, spark)
    lm1 = eq._lm_artifact(spark, SF)
    _fresh_session_caches(eq, spark)
    monkeypatch.setattr(
        sc,
        "write_sidecar",
        lambda *a, **k: pytest.fail("lm: rebuild on warm sidecar"),
    )
    lm2 = eq._lm_artifact(spark, SF)
    assert lm2["vocab"] == lm1["vocab"]  # exact doubles, not approx
    assert lm2["oov"] == lm1["oov"]


def test_stale_source_triggers_rebuild(
    spark, sidecar_root, sf_copy, monkeypatch
):
    """Mutating a source file (new ingest batch) must invalidate the
    fingerprint: the artifact rebuilds and serves the NEW corpus."""
    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    _fresh_session_caches(eq, spark)
    n1 = eq._novelty_counts_artifact(spark, sf_copy).count()
    # "new ingest": halve the documents table in place
    docs = spark.read.parquet(f"{sf_copy}/documents.parquet")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    tmp_out = f"{sf_copy}/documents_new.parquet"
    half.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    part = next(
        f for f in os.listdir(tmp_out) if f.endswith(".parquet")
    )
    shutil.copyfile(
        os.path.join(tmp_out, part), f"{sf_copy}/documents.parquet"
    )
    _fresh_session_caches(eq, spark)
    writes = []
    orig = sc.write_sidecar
    monkeypatch.setattr(
        sc, "write_sidecar", lambda *a, **k: (writes.append(a[1]), orig(*a, **k))[1]
    )
    n2 = eq._novelty_counts_artifact(spark, sf_copy).count()
    assert "novelty_counts" in writes  # rebuilt, not served stale
    assert 0 < n2 < n1


def test_ivfpq_index_round_trips(spark, sidecar_root, monkeypatch):
    from stac_fastapi_duckdb_spark.plans import entry_queries as eq

    _fresh_session_caches(eq, spark)
    df1 = eq._ivfpq_indexed(spark, SF)
    rows1 = sorted((r["vec_id"], r["ivf_cell"]) for r in df1.collect())
    _fresh_session_caches(eq, spark)
    monkeypatch.setattr(
        sc,
        "write_sidecar",
        lambda *a, **k: pytest.fail("ivfpq: rebuild on warm sidecar"),
    )
    df2 = eq._ivfpq_indexed(spark, SF)
    assert sorted(
        (r["vec_id"], r["ivf_cell"]) for r in df2.collect()
    ) == rows1


def test_gc_grace_malformed_or_negative_env(monkeypatch):
    """A malformed SPARK_GRAFT_SIDECAR_GC_SECONDS must not raise inside
    a write AFTER the data directory landed; a negative grace must not
    make every non-live directory (including a concurrent builder's
    fresh in-flight one) instantly sweep-eligible."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "banana")
    assert sc._gc_grace() == sc.SIDECAR_GC_GRACE_SECONDS
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "-5")
    assert sc._gc_grace() == 0.0
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "12.5")
    assert sc._gc_grace() == 12.5


def test_commit_epoch_monotonic_and_cas(spark, sidecar_root):
    """Every pointer commit bumps a monotone epoch; a commit carrying a
    stale expect_epoch is rejected (returns None, pointer unchanged) —
    the invariant the compaction race-safety rests on."""
    sc.write_sidecar(spark.range(0, 3), "fam", "tag", "fp0")
    m1 = sc._read_meta("fam", "tag", None)
    e1 = m1["epoch"]
    sc.append_sidecar(spark.range(3, 5), "fam", "tag", "fp1", max_deltas=9)
    m2 = sc._read_meta("fam", "tag", None)
    assert m2["epoch"] == e1 + 1
    # CAS against the CURRENT epoch succeeds
    ok = sc._commit_meta(
        "fam", "tag", None,
        {"fingerprint": "fp1", "data": m2["data"], "extra": {}},
        expect_epoch=m2["epoch"],
    )
    assert ok == m2["epoch"] + 1
    # CAS against a STALE epoch is rejected and leaves the pointer alone
    rejected = sc._commit_meta(
        "fam", "tag", None,
        {"fingerprint": "BOGUS", "data": "data-nope", "extra": {}},
        expect_epoch=e1,
    )
    assert rejected is None
    m3 = sc._read_meta("fam", "tag", None)
    assert m3["fingerprint"] == "fp1"
    assert m3["epoch"] == ok


def test_stage_orphans_swept_past_floor_protected_before(
    spark, sidecar_root, monkeypatch
):
    """stage-* build directories are untouchable before the staging
    floor whatever the GC grace (in-flight builds under grace 0), and
    reclaimed as crash orphans past it."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_GC_SECONDS", "0")
    sc.write_sidecar(spark.range(3), "fam", "tag", "fp0")
    slot = os.path.join(sidecar_root, "fam", "tag")
    orphan = os.path.join(slot, "stage-deadbeef0000")
    os.makedirs(orphan)
    # grace 0 but the stage floor protects the (possibly in-flight) dir
    sc.write_sidecar(spark.range(4), "fam", "tag", "fp1")
    assert os.path.isdir(orphan)
    # floor 0: the orphan is reclaimable on the next write's sweep
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_STAGE_GC_SECONDS", "0")
    sc.write_sidecar(spark.range(5), "fam", "tag", "fp2")
    assert not os.path.exists(orphan)
    # malformed floor env falls back to the (large) default
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_STAGE_GC_SECONDS", "nope")
    assert sc._stage_gc_floor() == sc.SIDECAR_STAGE_GC_FLOOR_SECONDS
