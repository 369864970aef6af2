"""End-to-end pipeline: the reference's §3.1 DAG, Spark-native.

Reference flow (fetch.go:26-161): fetch zip → version key from
Last-Modified → skip if marker exists → stage → convert → query → CSV →
JSON → multi-sink with latest pointer and marker-last ordering.

Here: acquire (staged path or zip) → version key from source mtime →
idempotency gate → flagship query → headered CSV + bug-compat JSON array
artifacts, published through ``VersionedArtifactSink``. The three entry
points differ only in how they build the flagship result. Like the
reference, which runs the query once into one CSV and derives the JSON
from it on the same machine (fetch.go:214-232, csv2json2.py:1-3), a run
issues one Spark action: it collects the result, which its completion
marker (the single JSON array) already bounds, and writes both artifacts
from those rows on the driver. Nothing is cached.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .plans.flagship import FLAGSHIP_ORACLE_SQL, flagship
from .sinks.writers import VersionedArtifactSink, collect_all_strings

ARTIFACT_CSV = "links.csv"
ARTIFACT_JSON = "links.json"
DB_MEMBER = "prism.sqlite3"  # zip member name, analog of prism.mdb (fetch.go:84-94)


def version_key_from_mtime(path: str | Path) -> str:
    """RFC3339 version key from the source's modification time — the
    Spark-side equivalent of the Last-Modified header key (fetch.go:43-48,
    180-187)."""
    ts = Path(path).stat().st_mtime
    return (
        datetime.fromtimestamp(ts, tz=timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ")
    )


def _run(out_root: str | Path, version: str, build: Callable[[], DataFrame]) -> dict:
    """The shared body: idempotency gate → ``build()`` the flagship result
    → collect it → versioned CSV → JSON artifact, whose logged commit is
    the completion marker (P3/P15-P18, fetch.go:55-67, 138-157).

    The collect is the run's one Spark action, and nothing is cached. A
    result over the single-array budget is refused there, before either
    artifact is published. Both commits log the result's typed schema."""
    sink = VersionedArtifactSink(out_root)
    if sink.exists(ARTIFACT_JSON, version):
        return {"skipped": True, "version": version, "rows": None}
    result = build()
    rows = collect_all_strings(result)
    sink.write_versioned_csv(result.schema, rows, ARTIFACT_CSV, version)
    n = sink.write_versioned_json(result.schema, rows, ARTIFACT_JSON, version)
    return {"skipped": False, "version": version, "rows": n}


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_root: str | Path,
    version: str | None = None,
) -> dict:
    """Returns a run report: {skipped: bool, version: str, rows: int|None}."""
    version = version or version_key_from_mtime(Path(sf_dir) / "lineitem.parquet")
    return _run(out_root, version, lambda: flagship(spark, sf_dir))


def run_pipeline_from_url(
    spark: SparkSession,
    url: str,
    staging_dir: str | Path,
    out_root: str | Path,
    member: str = DB_MEMBER,
) -> dict:
    """The reference's §3.1 DAG end-to-end, from the HTTP source onward.

    fetch.go:26-161 Spark-native: GET the zip (P1) → version key from
    Last-Modified (P2) → skip if the timestamped JSON marker exists (P3)
    → extract the database member (P6/P7) → discover + register every
    table (P8-P10, P12) → run the flagship SQL (P15) → versioned CSV +
    JSON with latest-first marker-last ordering (P16-P18). The reference's
    Access→SQLite jar step is already behind us: this entry accepts the
    SQLite artifact the converter produces.
    """
    from .sources.acquire import fetch_artifact
    from .sources.sqlite_ingest import register_sqlite_database
    from .sources.zip_staging import stage_member

    staging = Path(staging_dir)
    art = fetch_artifact(url, staging)

    def build() -> DataFrame:
        db_path = stage_member(art.local_path, member, staging / "extracted")
        register_sqlite_database(spark, db_path, staging_dir=staging / "parquet")
        return spark.sql(FLAGSHIP_ORACLE_SQL)

    return _run(out_root, art.version, build)


def run_pipeline_from_url_jdbc(
    spark: SparkSession,
    url: str,
    staging_dir: str | Path,
    out_root: str | Path,
    member_prefix: str = "prismdb/",
    driver: str = "org.apache.derby.jdbc.EmbeddedDriver",
    jdbc_url_for=None,
    tables: list[str] | None = None,
) -> dict:
    """The §3.1 DAG with the database behind a LIVE JDBC DRIVER (r6
    verdict directive #9) — the closest in-container rehearsal of the
    reference's real flow, where the .mdb is read through a JDBC bridge
    (UCanAccess; fetch.go:189-196 shells to the equivalent jar):

    GET the zip (P1) → version key from Last-Modified (P2) → skip if
    the timestamped JSON marker exists (P3) → stage the DATABASE TREE
    (P6/P7 — an embedded JDBC database is a directory; the single-file
    .mdb is the degenerate case) → discover tables via JDBC metadata
    (P8) → register every table as a lowercase temp view via
    spark.read.jdbc (P9/P10/P12) → flagship SQL (P15) → versioned CSV +
    JSON, latest-first marker-last (P16-P18). Idempotent re-run probes
    the marker before any staging work.

    ``driver``/``jdbc_url_for`` parameterize the engine: Derby embedded
    by default (live-testable here — Spark ships the driver); a
    UCanAccess deployment passes the UCanAccess driver and a
    ``jdbc:ucanaccess://<staged>/prism.mdb`` URL factory, everything
    else unchanged."""
    from .sources.acquire import fetch_artifact
    from .sources.readers import discover_jdbc_tables, read_jdbc
    from .sources.zip_staging import stage_tree

    staging = Path(staging_dir)
    art = fetch_artifact(url, staging)

    def build() -> DataFrame:
        db_root = stage_tree(art.local_path, member_prefix, staging / "dbtree")
        jdbc_url = (
            jdbc_url_for(db_root) if jdbc_url_for else f"jdbc:derby:{db_root}"
        )
        names = tables or discover_jdbc_tables(spark, jdbc_url, driver=driver)
        for t in names:
            # quote the EXACT discovered name: engines fold unquoted
            # identifiers (Derby uppercases), so a discovered lowercase
            # name would not resolve unquoted
            df = read_jdbc(spark, jdbc_url, f'"{t}"', driver=driver)
            # engines uppercase unquoted identifiers (Derby does); the
            # flagship SQL is written lowercase — normalize at the boundary
            df.toDF(*[c.lower() for c in df.columns]).createOrReplaceTempView(
                t.lower()
            )
        return spark.sql(FLAGSHIP_ORACLE_SQL)

    return _run(out_root, art.version, build)


def main(argv: list[str] | None = None) -> None:
    """CLI: ``python -m nzwirelessmap_fetch_spark.pipeline SF_DIR OUT_ROOT
    [VERSION]`` — the reference's `/fetch` trigger without the HTTP server
    (job schedulers call this; a thin HTTP wrapper would only re-add
    fetch.go:267-299)."""
    import json
    import sys

    from .session import get_spark

    args = sys.argv[1:] if argv is None else argv
    if len(args) not in (2, 3):
        print(__doc__)
        raise SystemExit(2)
    sf_dir, out_root = args[0], args[1]
    version = args[2] if len(args) == 3 else None
    report = run_pipeline(get_spark("pipeline"), sf_dir, out_root, version)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
