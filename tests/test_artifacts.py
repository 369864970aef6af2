"""Versioned-artifact family: ``VersionedArtifactSink``'s publish protocol
(``latest`` materialized once, copied to ``<version>``, storage classes
recorded, commit logged last), the pipeline and streaming callers that
publish through it, and the ``versioned_artifacts`` Python DataSource
that reads and writes the same layout."""

from __future__ import annotations

import csv
import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE

from nzwirelessmap_fetch_spark.pipeline import ARTIFACT_CSV, ARTIFACT_JSON, run_pipeline
from nzwirelessmap_fetch_spark.sinks import writers
from nzwirelessmap_fetch_spark.sinks.writers import (
    VersionedArtifactSink,
    collect_all_strings,
    to_all_strings,
    write_single_json_array,
)
from nzwirelessmap_fetch_spark.sources.artifact_source import (
    VersionedArtifactDataSource,
)


def _write_datasource(df, root, version, mode="append", artifact="prism.json"):
    (
        df.write.format("versioned_artifacts")
        .option("root", root)
        .option("artifact", artifact)
        .option("version", version)
        .mode(mode)
        .save()
    )


def _read_datasource(spark, root):
    spark.dataSource.register(VersionedArtifactDataSource)
    return spark.read.format("versioned_artifacts").option("root", root).load()


def _persisted_rdds(spark):
    """Ids of the RDDs the session holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _snapshot(adir):
    """{relative path: bytes} of every file under an artifact directory."""
    return {
        os.path.relpath(os.path.join(d, name), adir): open(os.path.join(d, name), "rb").read()
        for d, _, names in os.walk(adir)
        for name in names
    }


# ─── writers: all-string JSON array ──────────────────────────────────────────


def test_single_json_array_all_strings(spark, tmp_path):
    """P16/P17: one JSON array; every value a string; NULL → ''."""
    df = spark.createDataFrame(
        [(1, 2.5, None), (2, None, "x")], "a long, b double, c string"
    )
    out = tmp_path / "out.json"
    assert write_single_json_array(df.columns, collect_all_strings(df), out) == 2
    data = json.loads(out.read_text())
    assert isinstance(data, list) and len(data) == 2
    by_a = {r["a"]: r for r in data}
    assert by_a["1"] == {"a": "1", "b": "2.5", "c": ""}
    assert by_a["2"] == {"a": "2", "b": "", "c": "x"}


def test_all_strings_schema(spark):
    df = to_all_strings(
        spark.createDataFrame([(1, 2.5)], "a long, b double")
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    # names that need quoting in SQL keep their name and value
    odd = spark.createDataFrame([(1, None)], "`we``ird.name` long, `sp ace` int")
    assert odd.columns == ["we`ird.name", "sp ace"]
    assert collect_all_strings(odd) == [("1", "")]
    assert to_all_strings(odd).columns == odd.columns


# ─── VersionedArtifactSink: the one publish path ─────────────────────────────


def test_sink_plan_orders_and_classes(tmp_path):
    """fetch.go:247-265 parity on the plan level: latest (STANDARD)
    first, versioned marker (NEARLINE) last; CSV keeps no latest."""
    sink = VersionedArtifactSink(tmp_path / "store")
    art = tmp_path / "store" / "prism.json"
    assert sink.plan_writes("prism.json", "2024-01-02T03:04:05Z") == [
        (art / "latest", "STANDARD"),
        (art / "2024-01-02T03:04:05Z", "NEARLINE"),
    ]
    assert sink.plan_writes("prism.csv", "v1", latest=False) == [
        (tmp_path / "store" / "prism.csv" / "v1", "NEARLINE"),
    ]


def test_sink_ndjson_writes_marker_last_layout(spark, tmp_path):
    """A directory-output publish: both objects exist and the
    storage-class manifest records each one."""
    sink = VersionedArtifactSink(tmp_path / "store")
    df = spark.range(3).select(F.col("id").cast("string").alias("v"))
    sink.write_versioned_ndjson(df, "art", "2024-01-01T00:00:00Z")
    root = tmp_path / "store" / "art"
    assert (root / "latest").exists()
    assert (root / "2024-01-01T00:00:00Z").exists()
    manifest = json.loads((root / "_storage_classes.json").read_text())
    assert set(manifest.values()) == {"STANDARD", "NEARLINE"}
    assert sink.exists("art", "2024-01-01T00:00:00Z")


def test_versioned_json_latest_is_byte_copy_with_classes(spark, tmp_path):
    """One materialization: `latest` and `<version>` are byte-identical,
    the manifest maps them to STANDARD and NEARLINE, and the returned
    row count is the array's length."""
    sink = VersionedArtifactSink(tmp_path)
    df = spark.range(7).select(F.col("id"), (F.col("id") * 2).alias("twice"))
    rows = collect_all_strings(df)
    assert sink.write_versioned_json(df.schema, rows, "prism.json", "v1") == 7
    adir = tmp_path / "prism.json"
    assert (adir / "latest").read_bytes() == (adir / "v1").read_bytes()
    assert len(json.loads((adir / "v1").read_text())) == 7
    manifest = json.loads((adir / "_storage_classes.json").read_text())
    assert manifest == {"latest": "STANDARD", "v1": "NEARLINE"}
    sink.write_versioned_json(df.schema, rows, "prism.json", "v2")
    manifest = json.loads((adir / "_storage_classes.json").read_text())
    assert manifest == {"latest": "STANDARD", "v1": "NEARLINE", "v2": "NEARLINE"}
    assert [e["version"] for e in sink.commit_log("prism.json")] == ["v1", "v2"]


def test_pipeline_artifacts_commit_through_shared_log(spark, tmp_path):
    """The §3.1 pipeline's versioned artifacts commit through the
    SnapshotParquetTable log protocol — _log/ entries exist per
    artifact, the idempotency gate reads the LOG (not file presence),
    and a crash that wrote data objects without a log entry correctly
    re-runs. `rows` equals the JSON artifact's record count."""
    r1 = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert r1["skipped"] is False and r1["rows"] > 0
    # `rows` is reported by the JSON publish itself
    assert r1["rows"] == len(json.loads((tmp_path / ARTIFACT_JSON / "v1").read_text()))
    # the CSV is version-only (fetch.go:138), one headered file whose
    # cells read back as the JSON records (csv2json2.py:1-3)
    assert not (tmp_path / ARTIFACT_CSV / "latest").exists()
    with open(tmp_path / ARTIFACT_CSV / "v1", newline="", encoding="utf-8") as f:
        assert list(csv.DictReader(f)) == json.loads(
            (tmp_path / ARTIFACT_JSON / "v1").read_text())
    csv_classes = (tmp_path / ARTIFACT_CSV / "_storage_classes.json").read_text()
    assert json.loads(csv_classes) == {"v1": "NEARLINE"}
    sink = VersionedArtifactSink(tmp_path)
    # both artifacts carry logged commits with schema + op
    csv_log = sink.commit_log(ARTIFACT_CSV)
    json_log = sink.commit_log(ARTIFACT_JSON)
    assert [e["op"] for e in csv_log] == ["artifact-csv"]
    assert [e["op"] for e in json_log] == ["artifact-json"]
    assert json_log[0]["version"] == "v1" and json_log[0]["schema"]
    # byte layout unchanged (fetch.go parity): latest + version objects
    assert (tmp_path / ARTIFACT_JSON / "latest").exists()
    assert (tmp_path / ARTIFACT_JSON / "v1").exists()
    # idempotent re-run is a no-op gated BY THE LOG
    assert run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")["skipped"]
    assert len(sink.commit_log(ARTIFACT_JSON)) == 1
    # crash simulation: data objects present but log entry missing →
    # incomplete → the re-run re-executes and re-commits
    for p in (tmp_path / ARTIFACT_JSON / "_log").iterdir():
        p.unlink()
    r3 = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert r3["skipped"] is False
    assert len(sink.commit_log(ARTIFACT_JSON)) == 1
    data = json.loads((tmp_path / ARTIFACT_JSON / "v1").read_text())
    assert isinstance(data, list) and len(data) == r3["rows"]


def test_pipeline_runs_one_spark_action(spark, tmp_path, monkeypatch):
    """A run's one Spark action is the collect of its result: no cache,
    no count, no distributed write, and no RDD left persisted."""
    probe = spark.range(1)
    calls = []

    def record(cls, name):
        method = getattr(cls, name)

        def wrapped(self, *args, **kwargs):
            calls.append(name)
            return method(self, *args, **kwargs)
        monkeypatch.setattr(cls, name, wrapped)

    for name in ("collect", "persist", "cache", "count"):
        record(type(probe), name)
    for name in ("save", "csv", "json", "parquet", "text", "saveAsTable", "insertInto"):
        record(type(probe.write), name)
    before = _persisted_rdds(spark)
    report = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert report["rows"] > 0
    assert calls == ["collect"]
    assert _persisted_rdds(spark) == before


def test_pipeline_budget_refusal_commits_nothing_and_uncaches(
    spark, tmp_path, monkeypatch
):
    """A result over the single-array budget is refused before anything
    is published: neither version reads as complete, nothing is left
    cached, and a re-run within budget commits each artifact once."""
    sink = VersionedArtifactSink(tmp_path)
    before = _persisted_rdds(spark)
    monkeypatch.setattr(writers, "SINGLE_ARRAY_MAX_ROWS", 1)
    with pytest.raises(ValueError, match="budget"):
        run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert not sink.exists(ARTIFACT_JSON, "v1")
    assert not sink.exists(ARTIFACT_CSV, "v1")
    assert _persisted_rdds(spark) == before
    monkeypatch.undo()
    report = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert report["skipped"] is False and report["rows"] > 0
    assert sink.exists(ARTIFACT_JSON, "v1")
    assert [e["version"] for e in sink.commit_log(ARTIFACT_CSV)] == ["v1"]
    assert len(json.loads((tmp_path / ARTIFACT_JSON / "v1").read_text())) == report["rows"]


# ─── streaming into the sink ─────────────────────────────────────────────────


def test_stream_to_versioned_sink(spark, tmp_path):
    """foreachBatch must land micro-batches in the P18 versioned layout,
    one publish per batch id, also when the batches are replayed."""
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        stream_to_versioned_sink,
    )

    report = stream_to_versioned_sink(spark, SF_CORRECT, str(tmp_path))
    assert report["batches"] >= 1 and report["rows"] > 0
    batches = [
        p for p in (tmp_path / "events_counts").iterdir() if p.name.startswith("batch=")
    ]
    assert batches and (tmp_path / "events_counts" / "latest").exists()
    out = spark.read.json(str(batches[0]))
    assert out.count() > 0 and set(out.columns) == {"window_start", "event_type", "n"}
    # a second run replays the same batch ids; each is already committed,
    # so the log keeps one entry per batch and none for `latest`
    again = stream_to_versioned_sink(spark, SF_CORRECT, str(tmp_path))
    assert again == {"batches": 0, "rows": 0}
    versions = [
        e["version"]
        for e in VersionedArtifactSink(tmp_path).commit_log("events_counts")
    ]
    assert len(versions) == len(set(versions)) == report["batches"]
    assert all(v.startswith("batch=") for v in versions)


# ─── versioned_artifacts DataSource: read side ──────────────────────────────


def test_versioned_artifact_datasource(spark, tmp_path):
    """Spark 4 Python DataSource API end-to-end: write two artifacts via
    the versioned sink (marker-last), then read the layout back through
    spark.read.format('versioned_artifacts') — one partition per
    artifact, one manifest row per object, latest-pointer membership
    derived from content equality."""
    sink = VersionedArtifactSink(tmp_path / "store")
    df1 = spark.range(3).select(F.col("id").cast("string").alias("v"))
    df2 = spark.range(5).select(F.col("id").cast("string").alias("v"))
    for df, artifact, version in [
        (df1, "prism.json", "2024-01-01T00:00:00Z"),
        (df2, "prism.json", "2024-01-02T00:00:00Z"),
        (df1, "other.json", "2024-01-03T00:00:00Z"),
    ]:
        sink.write_versioned_json(df.schema, collect_all_strings(df), artifact, version)

    rows = _read_datasource(spark, str(tmp_path / "store")).collect()
    by_key = {(r.artifact, r.version): r for r in rows}
    assert len(by_key) == 5  # 2 artifacts' versions + each latest
    # latest tracks the NEWEST write's content
    assert by_key[("prism.json", "latest")].n_records == 5
    assert by_key[("prism.json", "2024-01-02T00:00:00Z")].is_latest
    assert not by_key[("prism.json", "2024-01-01T00:00:00Z")].is_latest
    assert by_key[("other.json", "latest")].n_records == 3
    # the source is distributed: one partition per artifact
    src = _read_datasource(spark, str(tmp_path / "store"))
    assert src.rdd.getNumPartitions() == 2


def test_artifact_reader_dir_latest_and_duplicate_content(spark, tmp_path):
    """(a) a directory named `latest` (Spark dir-output stores) must
    yield size-only rows, not IsADirectoryError; (b) when an OLD
    version's bytes equal `latest`, only the NEWEST byte-equal version
    keeps is_latest."""
    store = tmp_path / "store"
    # artifact A: v1 and v3 identical content, latest = that content
    a = store / "a.json"
    os.makedirs(a)
    (a / "2024-01-01T00:00:00Z").write_bytes(b"[1,2]")
    (a / "2024-01-02T00:00:00Z").write_bytes(b"[9]")
    (a / "2024-01-03T00:00:00Z").write_bytes(b"[1,2]")
    (a / "latest").write_bytes(b"[1,2]")
    # artifact B: `latest` is a DIRECTORY (Spark directory sink shape)
    b = store / "b.json"
    os.makedirs(b / "latest")
    (b / "latest" / "part-00000").write_bytes(b"[1]")
    (b / "2024-01-01T00:00:00Z").write_bytes(b"[1]")

    rows = _read_datasource(spark, str(store)).collect()
    by_key = {(r.artifact, r.version): r for r in rows}
    assert by_key[("a.json", "2024-01-03T00:00:00Z")].is_latest
    assert not by_key[("a.json", "2024-01-01T00:00:00Z")].is_latest
    assert not by_key[("a.json", "2024-01-02T00:00:00Z")].is_latest
    # directory `latest` skipped, version row still present, no crash
    assert ("b.json", "latest") not in by_key
    assert not by_key[("b.json", "2024-01-01T00:00:00Z")].is_latest


def test_artifact_reader_counts_ndjson_records(spark, tmp_path):
    """The reader counts its own writer's NDJSON objects by non-empty
    line (a 3-row object reads 3, a 1-row object 1, not its key count),
    a JSON array by length, and anything else as -1."""
    root = str(tmp_path / "store")
    _write_datasource(
        spark.range(3).select("id", F.lit("x").alias("name")).repartition(2),
        root, "2024-01-01T00:00:00Z",
    )
    _write_datasource(
        spark.range(1).select("id", F.lit("x").alias("name")),
        root, "2024-01-01T00:00:00Z", artifact="one.json",
    )
    other = tmp_path / "store" / "misc"
    other.mkdir()
    (other / "array").write_bytes(b'[{"a": "1"}, {"a": "2"}]')
    (other / "scalar").write_bytes(b"5")
    (other / "text").write_bytes(b"not json\n")
    counts = {
        (r.artifact, r.version): r.n_records
        for r in _read_datasource(spark, root).collect()
    }
    assert counts[("prism.json", "2024-01-01T00:00:00Z")] == 3
    assert counts[("prism.json", "latest")] == 3
    assert counts[("one.json", "2024-01-01T00:00:00Z")] == 1
    assert counts[("misc", "array")] == 2
    assert counts[("misc", "scalar")] == -1
    assert counts[("misc", "text")] == -1


# ─── versioned_artifacts DataSource: write side ─────────────────────────────


def test_artifact_datasource_write_path(spark, tmp_path):
    """Spark 4 Python DataSource WRITE path: df.write.format(...) stages
    per-task NDJSON in commit messages and publishes latest + version
    only in commit() — then the READ side of the same source sees the
    new version as latest, and `exists()` sees one logged commit."""
    spark.dataSource.register(VersionedArtifactDataSource)
    root = str(tmp_path / "store")
    df = spark.range(5).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("name")
    )
    _write_datasource(df.repartition(3), root, "2024-02-01T00:00:00Z")
    lines = [
        json.loads(line)
        for line in open(os.path.join(root, "prism.json", "2024-02-01T00:00:00Z"))
    ]
    assert sorted(r["id"] for r in lines) == [0, 1, 2, 3, 4]
    assert all(r["name"] == f"v{r['id']}" for r in lines)
    # read side: version flagged latest (byte-copy contract)
    rows = {r.version: r for r in _read_datasource(spark, root).collect()}
    assert rows["2024-02-01T00:00:00Z"].is_latest
    assert rows["latest"].n_bytes == rows["2024-02-01T00:00:00Z"].n_bytes
    # the append committed through the sink: one log entry, writer schema
    sink = VersionedArtifactSink(root)
    assert sink.exists("prism.json", "2024-02-01T00:00:00Z")
    log = sink.commit_log("prism.json")
    assert [(e["version"], e["op"]) for e in log] == [
        ("2024-02-01T00:00:00Z", "artifact-ndjson")
    ]
    assert log[0]["schema"] == [["id", "bigint"], ["name", "string"]]


def test_artifact_version_immutability(spark, tmp_path):
    """mode('append') must refuse to clobber an existing version object
    (the store's version-immutability contract); mode('overwrite') opts
    into replacement explicitly."""
    spark.dataSource.register(VersionedArtifactDataSource)
    root = str(tmp_path / "store")

    def write(df, mode):
        _write_datasource(df, root, "2024-03-01T00:00:00Z", mode=mode)

    write(spark.range(3), "append")
    before = _snapshot(os.path.join(root, "prism.json"))
    with pytest.raises(Exception, match="already exists"):
        write(spark.range(5), "append")
    # the refusal runs before any write: objects and log are untouched
    assert _snapshot(os.path.join(root, "prism.json")) == before
    assert len(VersionedArtifactSink(root).commit_log("prism.json")) == 1
    vpath = os.path.join(root, "prism.json", "2024-03-01T00:00:00Z")
    assert len(open(vpath).readlines()) == 3
    write(spark.range(5), "overwrite")
    assert len(open(vpath).readlines()) == 5
