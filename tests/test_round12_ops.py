"""Round 12 regression tests.

The round-11 killer: ``Catalog.table_parallel`` did
``int(spark.conf.get("spark.sql.files.maxPartitionBytes"))``, which
crashes on any SparkSession the repo didn't build because Spark renders
the unset conf with a byte suffix (``'134217728b'``). The driver harness
runs queries() on ITS OWN session, so 4 window rows went red while all
986 repo tests stayed green. These tests pin the missing coverage class:
a session with Spark's own conf rendering, and a fully vanilla session.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from nzwirelessmap_fetch_spark.catalog import Catalog, parse_byte_string

SF_SMOKE = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_parse_byte_string_suffixes():
    # Spark's own renderings (JavaUtils.byteStringAsBytes semantics).
    assert parse_byte_string("134217728b", default=0) == 134217728
    assert parse_byte_string("134217728", default=0) == 134217728
    assert parse_byte_string("128m", default=0) == 128 * 1024 * 1024
    assert parse_byte_string("128MB", default=0) == 128 * 1024 * 1024
    assert parse_byte_string("1g", default=0) == 1 << 30
    assert parse_byte_string("64k", default=0) == 64 * 1024
    assert parse_byte_string(" 512m ", default=0) == 512 * 1024 * 1024
    # Unparseable / unset values fall back, never raise.
    assert parse_byte_string(None, default=7) == 7
    assert parse_byte_string("garbage", default=7) == 7
    assert parse_byte_string("12x", default=7) == 7
    assert parse_byte_string("", default=7) == 7
    # A zero size is unparseable too: table_parallel divides by it.
    assert parse_byte_string("0", default=7) == 7
    assert parse_byte_string("0b", default=7) == 7


def test_table_parallel_survives_suffixed_conf(spark):
    """Reproduces the exact driver failure mode in-process: the conf set
    to Spark's suffixed rendering, then a table_parallel scan end-to-end."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728b")
    try:
        cat = Catalog(spark, SF_SMOKE)
        n = cat.table_parallel("documents").count()
        assert n > 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_vanilla_session_table_parallel_consumers():
    """The coverage class whose absence let r11 ship: a BARE
    ``SparkSession.builder`` (none of session.py's confs — exactly what
    the driver harness runs) driving table_parallel, _emb_parallel and a
    _verified_simhash_pairs consumer end-to-end. Run in a subprocess so
    the repo-configured test session can't mask the default confs."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .appName("vanilla-driver-like")
            .getOrCreate()
        )
        # Prove we really are on Spark's suffixed default rendering.
        v = spark.conf.get("spark.sql.files.maxPartitionBytes")
        assert v.endswith("b"), v

        from nzwirelessmap_fetch_spark.catalog import Catalog
        from nzwirelessmap_fetch_spark.operators.similarity import _emb_parallel
        from nzwirelessmap_fetch_spark.operators.mlprep import ml_feature_hashing
        from nzwirelessmap_fetch_spark.operators.dedup import (
            dedup_simhash_content_hash,
        )

        sf = {SF_SMOKE!r}
        assert Catalog(spark, sf).table_parallel("documents").count() > 0
        assert _emb_parallel(spark, sf).count() > 0
        assert ml_feature_hashing(spark, sf).count() > 0
        assert dedup_simhash_content_hash(spark, sf).count() > 0
        print("VANILLA_OK")
        spark.stop()
        """
    )
    env = dict(os.environ)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "VANILLA_OK" in proc.stdout
