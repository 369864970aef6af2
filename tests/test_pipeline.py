"""Pipeline pin-tests (SURVEY.md §5.2 items 3-4): idempotent skip,
the latest + version layout, zip staging, the closed registries and the
query CLI. Sink and stream tests live in ``tests/test_artifacts.py``."""

from __future__ import annotations

import json
import zipfile

import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE

from nzwirelessmap_fetch_spark.pipeline import ARTIFACT_JSON, run_pipeline
from nzwirelessmap_fetch_spark.sources.readers import map_access_type
from nzwirelessmap_fetch_spark.sources.zip_staging import stage_member


def test_pipeline_runs_then_skips(spark, tmp_path):
    r1 = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert r1 == {"skipped": False, "version": "v1", "rows": r1["rows"]}
    assert r1["rows"] > 0
    # marker exists → second run is memoized (P3, fetch.go:55-67)
    r2 = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert r2["skipped"] is True
    # latest pointer exists alongside the versioned marker (P18)
    assert (tmp_path / ARTIFACT_JSON / "latest").exists()
    assert (tmp_path / ARTIFACT_JSON / "v1").exists()


def test_access_type_map_closed():
    assert map_access_type("MONEY").simpleString() == "string"
    assert map_access_type("BOOLEAN").simpleString() == "int"
    with pytest.raises(ValueError, match="Unhandled MS Access datatype"):
        map_access_type("COMPLEX")


def test_zip_staging(tmp_path):
    zp = tmp_path / "src.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("inner/prism.mdb", b"payload")
        zf.writestr("other.txt", b"nope")
    staged = stage_member(zp, "inner/prism.mdb", tmp_path / "staging")
    assert staged.read_bytes() == b"payload"
    with pytest.raises(FileNotFoundError, match="couldn't find"):
        stage_member(zp, "missing.mdb", tmp_path / "staging")


def test_unknown_table_raises_keyerror(spark):
    """The schema registry is closed (SURVEY.md §1.2: unknown Access types
    error in the reference jar; unknown tables error here)."""
    from nzwirelessmap_fetch_spark.catalog import Catalog

    with pytest.raises(KeyError, match="registry is closed"):
        Catalog(spark, SF_CORRECT).table("nope")


def test_missing_sf_dir_raises_path_not_found(spark):
    from pyspark.errors.exceptions.captured import AnalysisException

    from nzwirelessmap_fetch_spark.catalog import Catalog

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        Catalog(spark, "/root/testdata/sf-nope").table("orders").count()


def test_run_query_cli(spark, capsys):
    """The user-facing CLI drives the same registry as the driver
    contract: --list enumerates, a name runs, an unknown name exits 2."""
    from nzwirelessmap_fetch_spark.run_query import main

    assert main(["--list"]) == 0
    names = capsys.readouterr().out.split()
    assert "p2p_links" in names and len(names) >= 86
    assert main(["topk_orders", SF_SMOKE, "--limit", "3"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 3 and all(json.loads(line) for line in out)
    assert main(["nope"]) == 2


def test_pipeline_cli(spark, tmp_path, capsys):
    """The `/fetch` trigger's CLI form prints the run report as JSON: a
    first call publishes rows, a second one skips on the marker."""
    from nzwirelessmap_fetch_spark.pipeline import main

    out = str(tmp_path / "out")
    main([SF_SMOKE, out, "v1"])
    report = json.loads(capsys.readouterr().out)
    assert report["skipped"] is False and report["rows"] > 0
    main([SF_SMOKE, out, "v1"])
    assert json.loads(capsys.readouterr().out) == {
        "skipped": True, "version": "v1", "rows": None}
