"""The feature-gated direct-.mdb JDBC branch. The versioned-artifact
sink and DataSource tests live in ``tests/test_artifacts.py``, the
snapshot-versioned parquet table tests in ``tests/test_txn_log.py``.
"""

from __future__ import annotations

import pytest

from nzwirelessmap_fetch_spark.sources.readers import (
    UCANACCESS_RECIPE,
    access_select_with_conversions,
    read_access_jdbc,
    ucanaccess_available,
)


# ─── direct .mdb ingest (UCanAccess JDBC, feature-gated) ────────────────────


def _access_frame(spark):
    return spark.createDataFrame(
        [(1, 12.34, True, "a"), (2, 0.5, False, None)],
        ["id", "price", "active", "note"],
    )


def test_access_conversions_through_jdbc_branch(spark):
    """The type-map contract the jar enforces, exercised through the
    shared branch both ingest paths funnel into: MONEY → decimal(19,4)
    toString, BOOLEAN → 0/1 int, LONG → 32-bit int, TEXT passthrough."""
    out = access_select_with_conversions(
        _access_frame(spark),
        {"id": "LONG", "price": "MONEY", "active": "BOOLEAN", "note": "TEXT"},
    )
    types = dict(out.dtypes)
    assert types == {
        "id": "int",
        "price": "string",
        "active": "int",
        "note": "string",
    }
    rows = {r.id: r for r in out.collect()}
    assert rows[1].price == "12.3400"  # Object.toString of decimal(19,4)
    assert rows[1].active == 1 and rows[2].active == 0


def test_access_unknown_type_fails_loudly(spark):
    """Closed map: an undeclared Access type is the jar's SQLException
    parity, not a silent cast."""
    with pytest.raises(ValueError, match="Unhandled MS Access datatype"):
        access_select_with_conversions(
            _access_frame(spark),
            {"id": "LONG", "price": "CURRENCY", "active": "BOOLEAN", "note": "TEXT"},
        )
    with pytest.raises(ValueError, match="no declared Access type"):
        access_select_with_conversions(_access_frame(spark), {"id": "LONG"})


def test_access_jdbc_reads_mdb_when_jar_present(spark, tmp_path):
    """Real .mdb read through the JDBC branch — runs only where the
    classpath carries UCanAccess (never in this container)."""
    if not ucanaccess_available(spark):
        pytest.skip("UCanAccess jar not on the classpath")
    df = read_access_jdbc(
        spark, str(tmp_path / "sample.mdb"), "t", {"id": "LONG"}
    )
    assert df.columns == ["id"]


def test_access_jdbc_gated_with_recipe(spark, tmp_path):
    """Without the jar the branch fails loudly WITH the classpath recipe
    (the documented fallback is the SQLite staging path, exactly the
    reference's own vendored-jar pre-conversion)."""
    if ucanaccess_available(spark):
        pytest.skip("jar present — gating not reachable")
    with pytest.raises(RuntimeError, match="ucanaccess.jar"):
        read_access_jdbc(spark, str(tmp_path / "x.mdb"), "t", {"id": "LONG"})
    assert "sqlite" in UCANACCESS_RECIPE.lower()
