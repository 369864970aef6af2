"""P8-P12 end-to-end: SQLite database → Spark DataFrames.

The reference's ingest is Access → SQLite via a vendored jar
(fetch.go:189-196), after which every query runs against the SQLite file.
This module is the Spark-side twin of that landing zone: discover the
tables (P8), map the closed type system (P9), register temp views (P10),
and copy rows in with the MONEY/BOOLEAN conversions (P12) — so a user can
point the engine at the same ``.sqlite3`` artifact the reference produces
and query it with Spark SQL.

Two paths:
- ``read_jdbc`` (sources/readers.py) when a sqlite-JDBC driver jar is on
  the Spark classpath — the production path (partitioned reads, no driver
  staging). This container ships no such jar, so:
- this module's stdlib-``sqlite3`` staging path: rows stream through the
  driver in bounded batches into an Arrow ``ParquetWriter``, then Spark
  scans the staged parquet. The scan itself is a real distributed
  columnar read (pushdown, pruning, parallel row groups) — not a
  ``createDataFrame`` of driver rows. Fine for the reference's data scale
  (a national licence DB); at 100 TB the landing zone is parquet/JDBC
  from the start, same downstream plan.

``register_sqlite_database`` overlaps the two halves of landing a
table: while the caller's thread copies the next table (one SQLite
connection reads its schema and its rows), a pool of up to the context's
default parallelism registers the staged ones. Each registration is a
single ``CREATE OR REPLACE TEMPORARY VIEW … USING parquet`` statement
whose column list comes from the closed type map, so none runs a Spark
job. Driver memory stays bounded at one batch of ``FETCH_BATCH_ROWS``
rows, and the pool's threads inherit the caller's job group and local
properties.

Type discipline: the mdb-sqlite converter emits exactly five SQLite
column types (BLOB, INTEGER, DATETIME, DOUBLE, TEXT — SURVEY.md §1.2), so
the map below is CLOSED and unknown declared types fail loudly, the same
contract as the jar's ``SQLException("Unhandled MS Acess datatype:")``.
"""

from __future__ import annotations

import sqlite3
import tempfile
from concurrent.futures import ThreadPoolExecutor
from contextlib import closing
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Closed map of the SQLite column types the Access converter emits
# (AccessExporter#createTable tableswitch — SURVEY.md §1.2).
SQLITE_TYPE_MAP: dict[str, T.DataType] = {
    "BLOB": T.BinaryType(),
    "INTEGER": T.LongType(),   # SQLite INTEGER is up to 64-bit
    "DATETIME": T.StringType(),  # converter stores datetimes as text; parse downstream
    "DOUBLE": T.DoubleType(),
    "TEXT": T.StringType(),
    "": T.StringType(),        # SQLite allows untyped columns; affinity = TEXT-ish
}

FETCH_BATCH_ROWS = 10_000  # driver staging batch: bounded memory, not row-at-a-time


def map_sqlite_type(declared: str) -> T.DataType:
    """Closed-map lookup on the DECLARED column type; loud failure on
    anything the Access converter can't have produced."""
    key = declared.strip().upper()
    try:
        return SQLITE_TYPE_MAP[key]
    except KeyError:
        raise ValueError(f"Unhandled SQLite column type: {declared!r}") from None


def _sqlite_ident(name: str) -> str:
    """A SQLite identifier: double-quoted, embedded ``"`` doubled."""
    return '"' + name.replace('"', '""') + '"'


def _spark_ident(name: str) -> str:
    """A Spark SQL identifier: backquoted, embedded backquotes doubled."""
    return "`" + name.replace("`", "``") + "`"


def _glob_escaped(path: Path) -> str:
    """``path`` as a Spark data source path naming exactly that file:
    Spark globs such a path, so Hadoop glob metacharacters are escaped."""
    return "".join("\\" + c if c in "\\{}[]*?" else c for c in str(path))


def _spark_path_literal(path: Path) -> str:
    """A Spark SQL string literal naming exactly ``path``: the glob
    escape, then the SQL literal escapes backslashes, then ``'``."""
    return "'" + _glob_escaped(path).replace("\\", "\\\\").replace("'", "\\'") + "'"


def discover_tables(db_path: str | Path) -> list[str]:
    """P8: enumerate user tables (mirrors ``Database.getTableNames``)."""
    with closing(sqlite3.connect(db_path)) as conn:
        rows = conn.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table' "
            "AND name NOT LIKE 'sqlite_%' ORDER BY name"
        ).fetchall()
    return [r[0] for r in rows]


def _table_schema(conn: sqlite3.Connection, table: str, db_path: str | Path) -> T.StructType:
    cols = conn.execute(f"PRAGMA table_info({_sqlite_ident(table)})").fetchall()
    if not cols:
        raise ValueError(f"table {table!r} not found in {db_path}")
    return T.StructType(
        [T.StructField(name, map_sqlite_type(decl), True) for _, name, decl, *_ in cols]
    )


def discover_schema(db_path: str | Path, table: str) -> T.StructType:
    """P8/P9: PRAGMA table_info → explicit StructType via the closed map."""
    with closing(sqlite3.connect(db_path)) as conn:
        return _table_schema(conn, table, db_path)


# Arrow physical types for the closed SQLite map (parquet staging schema).
_ARROW_TYPES: dict[str, pa.DataType] = {
    "binary": pa.binary(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
}


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        [(f.name, _ARROW_TYPES[f.dataType.simpleString()]) for f in schema.fields]
    )


def stage_sqlite_table_to_parquet(
    db_path: str | Path, table: str, staging_dir: str | Path
) -> tuple[Path, T.StructType]:
    """Stream one SQLite table into a staged parquet file.

    One connection reads the schema and the rows. Rows flow in bounded
    batches (FETCH_BATCH_ROWS) through an Arrow ``ParquetWriter`` — the
    reference's row-at-a-time ``executeUpdate`` loop
    (AccessExporter#populateTable) collapsed into columnar batch copies
    with O(batch) driver memory regardless of table size."""
    staging = Path(staging_dir)
    staging.mkdir(parents=True, exist_ok=True)
    dest = staging / f"{table}.parquet"
    with closing(sqlite3.connect(db_path)) as conn:
        schema = _table_schema(conn, table, db_path)
        arrow = _arrow_schema(schema)
        with pq.ParquetWriter(dest, arrow) as writer:
            cur = conn.execute(f"SELECT * FROM {_sqlite_ident(table)}")
            while rows := cur.fetchmany(FETCH_BATCH_ROWS):
                cols = list(zip(*rows))
                writer.write_batch(
                    pa.record_batch(
                        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
                        schema=arrow,
                    )
                )
    return dest, schema


def read_sqlite_table(
    spark: SparkSession,
    db_path: str | Path,
    table: str,
    staging_dir: str | Path | None = None,
) -> DataFrame:
    """Stage one SQLite table and return a distributed scan over it.

    The result is a real parquet scan (column pruning + predicate
    pushdown reach the staged file), not a driver-resident local
    relation."""
    staging = Path(staging_dir) if staging_dir else Path(tempfile.mkdtemp(prefix="sqlite_stage_"))
    dest, schema = stage_sqlite_table_to_parquet(db_path, table, staging)
    return spark.read.schema(schema).parquet(_glob_escaped(dest))


def register_sqlite_database(
    spark: SparkSession,
    db_path: str | Path,
    prefix: str = "",
    staging_dir: str | Path | None = None,
) -> dict[str, DataFrame]:
    """P10: every table in the database becomes a temp view — after this,
    ``spark.sql`` replaces the reference's sqlite3-CLI query step.

    The caller's thread stages the tables one after another, so driver
    memory stays bounded at ``FETCH_BATCH_ROWS`` rows; each staged table
    is registered on a pool of ``min(tables, defaultParallelism)``
    threads while the next one is copied. Staging stays on one thread
    because ``sqlite3`` releases and retakes the interpreter lock on every
    row it steps, so concurrent copies queue on the lock and run slower
    than serial ones. Registration is one ``CREATE OR REPLACE TEMPORARY
    VIEW … USING parquet`` statement per table with an explicit column
    list, so it runs no Spark job. The pool's threads carry the caller's
    job group and local properties."""
    staging = Path(staging_dir) if staging_dir else Path(tempfile.mkdtemp(prefix="sqlite_stage_"))
    tables = discover_tables(db_path)
    if not tables:
        return {}

    @inheritable_thread_target(spark)
    def register(view: str, dest: Path, schema: T.StructType) -> DataFrame:
        columns = ", ".join(
            f"{_spark_ident(f.name)} {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {view} ({columns}) "
            f"USING parquet OPTIONS (path {_spark_path_literal(dest)})"
        )
        return spark.table(view)

    workers = min(len(tables), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(workers, thread_name_prefix="sqlite_register") as pool:
        pending = {
            t: pool.submit(
                register,
                _spark_ident(prefix + t),
                *stage_sqlite_table_to_parquet(db_path, t, staging),
            )
            for t in tables
        }
        return {t: f.result() for t, f in pending.items()}
