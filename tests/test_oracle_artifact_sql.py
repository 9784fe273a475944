"""Serve-from-artifact DuckDB forms (tools/oracle_artifact_sql.py).

Contract: for every artifact-served bench query, the serve form —
which reads the written sidecar parquet and recomputes only the
query-side residual — returns exactly the rows of the full-recompute
oracle. This is what makes the --oracle-artifacts engine-vs-engine
serving comparison a fair timing: same values, symmetric state."""

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """Build every artifact once (running each Spark query warms and
    writes its sidecar families), sharing one DuckDB connection."""
    import os

    root = str(tmp_path_factory.mktemp("artifacts"))
    old = os.environ.get("SPARK_GRAFT_SIDECAR_DIR")
    os.environ["SPARK_GRAFT_SIDECAR_DIR"] = root
    from stac_fastapi_duckdb_spark.plans import entry_queries as eq
    from tools.oracle_artifact_sql import SERVE_SQL, ArtifactCtx

    eq._ARTIFACT_CACHE.pop(spark, None)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    for name in SERVE_SQL:
        eq.QUERIES[name](spark, SF).write.format("noop").mode(
            "overwrite"
        ).save()
    yield eq, con, ArtifactCtx(SF)
    eq._ARTIFACT_CACHE.pop(spark, None)
    if old is None:
        os.environ.pop("SPARK_GRAFT_SIDECAR_DIR", None)
    else:
        os.environ["SPARK_GRAFT_SIDECAR_DIR"] = old


def _norm(rows):
    # the ONE canonicalization shared with the bench runtime validation
    from tools.oracle_artifact_sql import norm_rows

    return norm_rows(rows)


def _serve_names():
    from tools.oracle_artifact_sql import SERVE_SQL

    return sorted(SERVE_SQL)


def test_every_artifact_served_query_has_a_serve_form():
    """Coverage guard: a query tagged ``artifact`` must ship a
    serve-from-artifact form, or the --oracle-artifacts fairness table
    silently loses it."""
    from stac_fastapi_duckdb_spark.plans.entry_queries import tagged
    from tools.oracle_artifact_sql import SERVE_SQL

    missing = set(tagged("artifact")) - set(SERVE_SQL)
    assert not missing, f"artifact-served queries without a serve form: {missing}"


@pytest.mark.parametrize("name", _serve_names())
def test_serve_form_matches_full_oracle(served, name):
    eq, con, ctx = served
    from tools.oracle_artifact_sql import SERVE_SQL

    full = _norm(con.execute(eq.ORACLE_SQL[name]).fetchall())
    got = _norm(con.execute(SERVE_SQL[name](ctx)).fetchall())
    assert len(full) > 0
    assert got == full


def test_ctx_rejects_stale_artifact(spark, tmp_path, monkeypatch):
    """A serve form invoked outside the bench flow must fail loudly if
    the committed artifact was built from a DIFFERENT corpus state —
    never silently time a stale artifact (r10 ADVICE finding)."""
    import shutil

    from stac_fastapi_duckdb_spark.sources import sidecar as sc
    from tools.oracle_artifact_sql import ArtifactCtx

    root = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", root)
    d = tmp_path / "corpus"
    d.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copyfile(f"{SF}/{t}.parquet", d / f"{t}.parquet")
    sfd = str(d)
    # commit an artifact under a fingerprint that does NOT match sfd's
    # current files (simulates an artifact from an older ingest state)
    sc.write_sidecar(
        spark.range(3), "edit_pairs", sc.dataset_tag(sfd), "stale-fp"
    )
    ctx = ArtifactCtx(sfd)
    with pytest.raises(RuntimeError, match="absent or stale"):
        ctx.art("edit_pairs")
    with pytest.raises(RuntimeError, match="absent or stale"):
        ctx.meta("edit_pairs")
    # opting out serves whatever is committed (bench flow owns staleness)
    loose = ArtifactCtx(sfd, validate_fingerprint=False)
    assert "data-" in loose.art("edit_pairs")
    # a FRESH commit under the true fingerprint validates clean
    fp = sc.source_fingerprint(f"{sfd}/documents.parquet")
    sc.write_sidecar(
        spark.range(3), "edit_pairs", sc.dataset_tag(sfd), fp
    )
    assert "data-" in ArtifactCtx(sfd).art("edit_pairs")
