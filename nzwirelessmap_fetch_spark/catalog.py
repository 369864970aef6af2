"""Explicit-schema table registry over the parquet fixtures.

The reference discovers schemas dynamically at ingest (mdb-sqlite.jar's
``AccessExporter#createTables`` walks ``Database.getTableNames()`` — SURVEY.md
§1.3) but the query layer assumes a fixed schema. Here the engine keeps a
closed registry of ``StructType`` schemas (the SURVEY.md §1.2 stance: a fixed
primitive type system, unknown types rejected at ingest) and reads parquet
with the schema supplied — no inference pass, so a scan never needs a
metadata-only job before the real one.

At 100 TB the registry also carries *layout* hints: which column a table
should be pre-partitioned/bucketed on so repeated joins co-locate without a
shuffle (`nzwirelessmap_fetch_spark.sources.readers` applies them for
managed-table writes).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _s(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, T.StructType] = {
    "region": _s(("r_regionkey", T.IntegerType()), ("r_name", T.StringType())),
    "nation": _s(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _s(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _s(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _s(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _s(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ),
}

# Dimension tables small enough to broadcast at ANY scale factor (they grow
# sublinearly or not at all in TPC-H-style scaling). Fact tables shuffle on
# their join key; AQE handles the rest.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

# Natural partitioning keys at 100 TB: the column the fact table is
# re-joined/aggregated on most often. Used by writers for bucketed layouts.
LAYOUT_KEYS: dict[str, str] = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


@dataclass
class Catalog:
    """Loads fixture tables with explicit schemas and registers temp views."""

    spark: SparkSession
    sf_dir: str
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # Defensive: the driver harness calls queries() on ITS OWN
        # SparkSession (not session.get_spark), and timestamp semantics
        # only match the UTC-naive DuckDB oracle with the session tz
        # pinned. Runtime-settable, idempotent, applies to every query
        # because Catalog is the single table chokepoint.
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")

    def table(self, name: str) -> DataFrame:
        if name not in SCHEMAS:
            raise KeyError(f"unknown table {name!r}; registry is closed (SURVEY.md §1.2)")
        if name not in self._cache:
            if name == "events":
                df = self._read_events()
            else:
                df = self.spark.read.schema(SCHEMAS[name]).parquet(
                    f"{self.sf_dir}/{name}.parquet"
                )
            self._cache[name] = df
        return self._cache[name]

    def table_parallel(self, name: str) -> DataFrame:
        """``table(name)`` with scan parallelism matched to the machine
        (r11, guide §6/§2.5: input-split parallelism for compute-heavy
        scans).

        The fixture tables are single-FILE, single-ROW-GROUP parquet,
        so a scan is ONE effective task no matter how many byte-range
        splits Spark plans — only the split containing the row-group
        start yields rows. Operators that run expensive per-row or
        per-pair work UPSTREAM of their first exchange (interpreted
        array folds, per-word md5 folds, broadcast-join probe sides)
        therefore serialize on one core. One round-robin repartition of
        the (small) table unlocks the other cores.

        Scale-adaptive, NOT a local[32] constant: the exchange is added
        only when the file's natural split count
        (bytes / maxPartitionBytes) cannot fill defaultParallelism — a
        production multi-GB table already scans with more splits than
        cores and takes NO exchange at all.
        """
        import os

        df = self.table(name)
        try:
            nbytes = os.path.getsize(f"{self.sf_dir}/{name}.parquet")
        except OSError:
            return df
        # r12 fix: a session the repo did NOT build (the driver harness
        # uses its own) returns the conf in Spark's suffixed rendering
        # ('134217728b'); plain int() raised and crashed every consumer.
        max_split = parse_byte_string(
            self.spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            ),
            default=134217728,
        )
        cores = self.spark.sparkContext.defaultParallelism
        if -(-nbytes // max_split) < cores:
            df = df.repartition(cores)
        return df

    def _read_events(self) -> DataFrame:
        """events.ts unit differs by fixture generation: TIMESTAMP(NANOS)
        (which Spark's vectorized reader won't widen to TimestampType) or
        TIMESTAMP(MICROS). One driver-side footer sniff picks the read
        path — the same one-footer metadata probe a 100 TB table needs,
        not a data scan.

        Nanos: read the raw int64 (``spark.sql.legacy.parquet.nanosAsLong``)
        and floor-divide to micros — the truncation DuckDB applies when it
        loads a nanosecond column into its microsecond TIMESTAMP. Micros:
        plain schema read (NTZ micros == UTC-naive DuckDB under the pinned
        UTC session)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if parquet_ts_unit(f"{self.sf_dir}/events.parquet", "ts") != "ns":
            return self.spark.read.schema(SCHEMAS["events"]).parquet(
                f"{self.sf_dir}/events.parquet"
            )
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw_schema = T.StructType(
            [
                T.StructField("ts", T.LongType(), True)
                if f.name == "ts"
                else f
                for f in SCHEMAS["events"].fields
            ]
        )
        df = self.spark.read.schema(raw_schema).parquet(f"{self.sf_dir}/events.parquet")
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        for name in names:
            self.table(name).createOrReplaceTempView(name)


_BYTE_SUFFIXES = {
    "": 1,
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def parse_byte_string(value: object, default: int) -> int:
    """Byte-size conf value -> int bytes, accepting Spark's suffixed
    renderings ('134217728b', '128m', '1g'), mirroring
    ``JavaUtils.byteStringAsBytes``. An unset/unparseable value — and a
    size of zero, which callers divide by — falls back to ``default``
    instead of raising: conf parsing must never take a query down on a
    session the repo didn't configure."""
    import re

    if value is None:
        return default
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(value))
    if not m:
        return default
    mult = _BYTE_SUFFIXES.get(m.group(2).lower())
    if mult is None or int(m.group(1)) <= 0:
        return default
    return int(m.group(1)) * mult


def parquet_ts_unit(path: str, column: str) -> str:
    """Timestamp unit ('ns'/'us'/'ms') of a parquet column, from ONE
    footer read on the driver. For a multi-file table, sniffing any one
    footer suffices (a mixed-unit table would be a writer bug); cost is
    O(footer), never a data scan."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        part = next(
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    else:
        part = path
    return pq.ParquetFile(part).schema_arrow.field(column).type.unit
