"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) over
the versioned-artifact sink layout — the reference's output contract
(fetch.go:48-53 `prism.json/{ts}` + `latest`) exposed back to Spark as a
first-class readable source:

    spark.dataSource.register(VersionedArtifactDataSource)
    spark.read.format("versioned_artifacts").option("root", ROOT).load()

One row per (artifact, version) object: record count, latest-pointer
membership, and byte size — the manifest view a pipeline audits before
trusting `latest` (a crash between a publish's `latest` write and its
version copy leaves `latest` matching no version; this source makes that
visible as is_latest=false on every version row). Writes publish through
``VersionedArtifactSink``.

Scale design: `partitions()` emits one InputPartition per ARTIFACT, so a
root with thousands of artifacts fans out across executors; each task
reads only its artifact's directory. Rows are summary-sized (never the
payload), so the source output is manifest-sized regardless of artifact
bytes. The payload itself stays on the scale path (NDJSON/parquet reads);
this source is the catalog over the layout.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..sinks.writers import VersionedArtifactSink


@dataclass
class ArtifactPartition(InputPartition):
    root: str
    artifact: str


class VersionedArtifactDataSource(DataSource):
    """`format("versioned_artifacts")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "versioned_artifacts"

    def schema(self) -> str:
        # `version` keys MUST be fixed-width RFC3339 timestamps (the
        # reference's fetch.go layout): is_latest disambiguation sorts
        # byte-equal versions lexicographically, which orders correctly
        # only for fixed-width keys ('9' > '10' would mis-assign it).
        return (
            "artifact string, version string, n_records bigint, "
            "n_bytes bigint, is_latest boolean"
        )

    def reader(self, schema) -> "VersionedArtifactReader":
        root = self.options.get("root")
        if not root:
            raise ValueError("versioned_artifacts requires .option('root', PATH)")
        return VersionedArtifactReader(root)

    def writer(self, schema, overwrite: bool) -> "VersionedArtifactWriter":
        root = self.options.get("root")
        artifact = self.options.get("artifact")
        version = self.options.get("version")
        if not (root and artifact and version):
            raise ValueError(
                "versioned_artifacts write requires .option('root'/'artifact'/'version')"
            )
        return VersionedArtifactWriter(root, artifact, version, schema, overwrite)


class VersionedArtifactReader(DataSourceReader):
    def __init__(self, root: str):
        self.root = root

    def partitions(self):
        # one partition per artifact directory — the distribution unit
        return [
            ArtifactPartition(self.root, d)
            for d in sorted(os.listdir(self.root))
            if os.path.isdir(os.path.join(self.root, d))
        ]

    def read(self, partition: ArtifactPartition):
        adir = os.path.join(partition.root, partition.artifact)
        names = sorted(os.listdir(adir))
        # `latest` is a DIRECTORY for Spark directory-output artifacts
        # (write_versioned_ndjson) — guard with isfile so such an artifact
        # yields no directory rows instead of IsADirectoryError.
        latest_bytes = None
        latest_path = os.path.join(adir, "latest")
        if "latest" in names and os.path.isfile(latest_path):
            with open(latest_path, "rb") as f:
                latest_bytes = f.read()
        rows = []
        for name in names:
            if name.startswith("_"):
                continue  # manifests (e.g. _storage_classes.json)
            path = os.path.join(adir, name)
            if not os.path.isfile(path):
                continue
            with open(path, "rb") as f:
                payload = f.read()
            rows.append(
                [
                    partition.artifact,
                    name,
                    _count_records(payload),
                    len(payload),
                    latest_bytes is not None and payload == latest_bytes,
                ]
            )
        # `latest` is a byte-copy of the newest version (fetch.go parity),
        # so byte-equality alone would also flag an OLDER version whose
        # content happens to repeat. Only the NEWEST byte-equal version
        # (version keys are RFC3339 — lexicographic max = newest) keeps
        # the flag.
        matching = [r[1] for r in rows if r[4] and r[1] != "latest"]
        newest_match = max(matching) if matching else None
        for r in rows:
            if r[1] != "latest" and r[4] and r[1] != newest_match:
                r[4] = False
            yield tuple(r)


def _count_records(payload: bytes) -> int:
    """A JSON array's length, or an NDJSON object's non-empty line count;
    -1 (a size-only row) for anything else."""
    lines = [line for line in payload.splitlines() if line.strip()]
    try:
        if payload.lstrip().startswith(b"["):
            return len(json.loads(payload))
        if all(isinstance(json.loads(line), dict) for line in lines):
            return len(lines)
    except ValueError:
        pass
    return -1


@dataclass
class _PartNdjson(WriterCommitMessage):
    """Per-task commit message: the task's staged NDJSON payload. Rows
    stay executor-side until commit; only the already-serialized bytes
    cross to the driver — acceptable for artifact-sized outputs (this
    sink's contract is SMALL versioned artifacts, the reference's
    prism.json; bulk data belongs in the parquet sinks)."""

    index: int
    payload: bytes


class VersionedArtifactWriter(DataSourceWriter):
    """WRITE side of the Spark 4 Python DataSource — a committer over
    ``VersionedArtifactSink``:

    - ``write(iterator)`` per task serializes its partition to NDJSON
      and returns it as the commit MESSAGE (no files appear yet).
    - ``commit(messages)`` on the driver assembles the version object and
      hands it to the sink's publish step (``latest``, then
      ``<version>``, then the logged commit) — and ONLY on all-tasks-
      success; a failed job calls ``abort`` and the store is untouched.

    Usage:
        df.write.format("versioned_artifacts")
          .option("root", ROOT).option("artifact", "prism.json")
          .option("version", ts).mode("append").save()
    """

    def __init__(
        self,
        root: str,
        artifact: str,
        version: str,
        schema: StructType,
        overwrite: bool = False,
    ):
        self.root = root
        self.artifact = artifact
        self.version = version
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator) -> _PartNdjson:
        from pyspark import TaskContext

        cols = self.schema.fieldNames()
        lines = [json.dumps(dict(zip(cols, row)), sort_keys=True) for row in iterator]
        payload = ("\n".join(lines) + ("\n" if lines else "")).encode()
        return _PartNdjson(TaskContext.get().partitionId(), payload)

    def commit(self, messages) -> None:
        sink = VersionedArtifactSink(self.root)
        # committed versions are immutable: mode('append') refuses to
        # replace one, before anything is written; mode('overwrite') opts in
        if sink.exists(self.artifact, self.version) and not self.overwrite:
            raise FileExistsError(
                f"version {self.version!r} of {self.artifact!r} already exists; "
                "use mode('overwrite') to replace it"
            )
        body = b"".join(
            m.payload for m in sorted(messages, key=lambda m: m.index)
        )
        sink.write_versioned_bytes(body, self.artifact, self.version, self.schema)

    def abort(self, messages) -> None:
        pass  # nothing staged on disk — abort is a true no-op
