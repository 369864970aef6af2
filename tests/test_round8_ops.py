"""Round-8 tests: r7 ADVICE regressions (tRNS fail-loud) and the round-8
operators (adaptive winnowing cap). The empty-corpus order-probe test
lives in ``tests/test_pair_builds.py``; the commit-admission and vacuum
tests live in ``tests/test_txn_log.py``."""

from __future__ import annotations

import pytest


def test_png_trns_on_truecolor_fails_loud():
    """r7 ADVICE (png.py:152): a grayscale/RGB PNG carrying tRNS (the
    spec-legal single transparent color) must raise the documented
    NotImplementedError, not silently decode opaque."""
    import struct
    import zlib

    from nzwirelessmap_fetch_spark.functions import png

    # hand-assemble a 1x1 RGB (color type 2) PNG with a tRNS chunk
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    scan = bytes([0, 10, 20, 30])  # filter 0 + one RGB pixel
    blob = (
        png.PNG_SIGNATURE
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"tRNS", struct.pack(">HHH", 10, 20, 30))
        + png._chunk(b"IDAT", zlib.compress(scan))
        + png._chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="tRNS on color type 2"):
        png.decode_png(blob)
    # same image without tRNS decodes fine (the guard is tRNS-specific)
    ok = (
        png.PNG_SIGNATURE
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(scan))
        + png._chunk(b"IEND", b"")
    )
    w, h, ch, raw = png.decode_png(ok)
    assert (w, h, ch) == (1, 1, 3) and raw == bytes([10, 20, 30])


def test_winnow_adaptive_cap_histogram_walk(spark):
    """The budget walk (r7 verdict directive #1): cap = largest df with
    cumulative sum(df^2) <= budget, floored at WINNOW_MAX_DF."""
    from nzwirelessmap_fetch_spark.operators.text import (
        WINNOW_MAX_DF,
        WINNOW_PAIR_BUDGET_PER_DOC,
        _winnow_adaptive_cap,
    )

    # 100 fps at df=10 (cum 10k), 10 at df=100 (cum 110k), 1 at df=1000
    rows = (
        [(i, 10) for i in range(100)]
        + [(1000 + i, 100) for i in range(10)]
        + [(9999, 1000)]
    )
    dfs = spark.createDataFrame(rows, "fp long, df int")
    # budget = PER_DOC * n_docs; pick n_docs so thresholds land mid-ladder
    per = WINNOW_PAIR_BUDGET_PER_DOC
    assert _winnow_adaptive_cap(dfs, -(-9_999 // per)) == WINNOW_MAX_DF  # < 10k
    assert _winnow_adaptive_cap(dfs, -(-10_000 // per) or 1) in (
        WINNOW_MAX_DF,
        10,
    )  # exactly the first rung (10 < floor 16 -> floor wins)
    assert _winnow_adaptive_cap(dfs, -(-110_000 // per)) == 100
    assert _winnow_adaptive_cap(dfs, -(-1_110_000 // per)) == 1000
    # empty df table -> floor
    empty = spark.createDataFrame([], "fp long, df int")
    assert _winnow_adaptive_cap(empty, 100) == WINNOW_MAX_DF


def test_winnow_adaptive_capped_subset_of_exact(spark):
    """The adaptive-capped pair set is a subset of the exact truth on
    the smoke corpus, and both runs hit the memoized substrates."""
    from tests.conftest import SF_SMOKE

    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.text import (
        corpus_winnowing,
        corpus_winnowing_capped,
    )

    exact = {
        (r["doc_a"], r["doc_b"]) for r in corpus_winnowing(spark, SF_SMOKE).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in corpus_winnowing_capped(spark, SF_SMOKE).collect()
    }
    assert capped <= exact
    assert [k[1] for k in memo.entries("winnow_fingerprints")] == [SF_SMOKE]
    assert [k[1] for k in memo.entries("winnow")] == [SF_SMOKE, SF_SMOKE]


def test_winnow_exact_measure_budget_guard(spark, monkeypatch):
    """r7 verdict directive #3: the exact measure pre-flights sum(df^2)
    against SPARK_GRAFT_EXACT_PAIR_BUDGET and refuses with an error
    NAMING the scale twin, instead of filling disk mid-shuffle."""
    import pytest as _pytest

    from tests.conftest import SF_SMOKE

    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.text import (
        ExactMeasureBoundError,
        corpus_winnowing,
    )

    memo.reset("winnow")
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "1")
    with _pytest.raises(ExactMeasureBoundError, match="corpus_winnowing_capped"):
        corpus_winnowing(spark, SF_SMOKE)
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    assert corpus_winnowing(spark, SF_SMOKE).count() >= 0
    memo.reset("winnow")


def test_lsh_eval_sequenced_oracle_equals_oneshot(spark, ddb):
    """r7 verdict directive #3: the sequenced gate oracle (two temp-table
    steps + final select, one disk-spilling pipeline per statement) must
    equal the one-shot driver oracle — both are assembled from the same
    SQL fragments, and this pins the assembly."""
    from nzwirelessmap_fetch_spark.operators.dedup import (
        DEDUP_LSH_QUALITY_EVAL_SQL,
        DEDUP_LSH_QUALITY_EVAL_SQL_STEPS,
    )
    from tests.oracle import frame_fingerprint

    oneshot = ddb.execute(DEDUP_LSH_QUALITY_EVAL_SQL).df()
    for step in DEDUP_LSH_QUALITY_EVAL_SQL_STEPS[:-1]:
        ddb.execute(step)
    sequenced = ddb.execute(DEDUP_LSH_QUALITY_EVAL_SQL_STEPS[-1]).df()
    assert frame_fingerprint(oneshot) == frame_fingerprint(sequenced)
    # registry exposure: the gate harness finds the steps by name
    from nzwirelessmap_fetch_spark.plans import registry

    steps = registry.oracle_gate_steps()
    assert "dedup_lsh_quality_eval" in steps
    assert steps["dedup_lsh_quality_eval"][-1] == DEDUP_LSH_QUALITY_EVAL_SQL_STEPS[-1]


def test_inter_cache_transform_parity(ddb):
    """The gate's inter-CTE cache swap (tools/oracle_cache.py) must be
    result-identical to the one-shot oracle for every eligible entry,
    and must leave the df-capped twins alone."""
    from nzwirelessmap_fetch_spark.plans import registry
    from tools.oracle_cache import eligible, sequenced
    from tests.oracle import frame_fingerprint

    oracles = registry.oracle_sql()
    steps = registry.oracle_gate_steps()
    ddb.execute("DROP TABLE IF EXISTS _gate_inter_lt")
    for name in sorted(eligible()):
        statements = list(steps.get(name) or [oracles[name]])
        cached = sequenced(statements)
        assert cached is not None and len(cached) == len(statements) + 1
        oneshot = ddb.execute(oracles[name]).df()
        for stmt in cached[:-1]:
            ddb.execute(stmt)
        got = ddb.execute(cached[-1]).df()
        assert frame_fingerprint(oneshot) == frame_fingerprint(got), name
    for capped in ("dedup_ngram_jaccard_capped", "corpus_containment_capped"):
        assert sequenced([oracles[capped]]) is None


def test_pattern_match_gate_oracle_parity(ddb):
    """The linear window-carry gate oracle for events_pattern_match must
    equal the independent one-shot (quadratic v×p) oracle — the
    formulation swap that survives a Zipfian user key at sf1."""
    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        EVENTS_PATTERN_MATCH_SQL,
        EVENTS_PATTERN_MATCH_SQL_STEPS,
    )
    from tests.oracle import frame_fingerprint

    oneshot = ddb.execute(EVENTS_PATTERN_MATCH_SQL).df()
    assert len(EVENTS_PATTERN_MATCH_SQL_STEPS) == 1
    got = ddb.execute(EVENTS_PATTERN_MATCH_SQL_STEPS[0]).df()
    assert frame_fingerprint(oneshot) == frame_fingerprint(got)


def test_asof_nearest_gate_oracle_parity(ddb):
    """The linear two-carry gate oracle for asof_nearest_click must equal
    the independent one-shot (quadratic ranking) oracle, at sf0.01 and
    on the Zipf-skew fixture (where the user key is hub-heavy)."""
    import os as _os

    import duckdb as _duckdb

    from nzwirelessmap_fetch_spark.operators.asof import (
        ASOF_NEAREST_CLICK_SQL,
        ASOF_NEAREST_CLICK_SQL_STEPS,
    )
    from tests.oracle import frame_fingerprint

    assert len(ASOF_NEAREST_CLICK_SQL_STEPS) == 1
    a = ddb.execute(ASOF_NEAREST_CLICK_SQL).df()
    b = ddb.execute(ASOF_NEAREST_CLICK_SQL_STEPS[0]).df()
    assert frame_fingerprint(a) == frame_fingerprint(b)
    skew = "/root/repo/.skew_fixture/events.parquet"
    if _os.path.exists(skew):
        con = _duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{skew}')")
        a = con.execute(ASOF_NEAREST_CLICK_SQL).df()
        b = con.execute(ASOF_NEAREST_CLICK_SQL_STEPS[0]).df()
        assert frame_fingerprint(a) == frame_fingerprint(b)


def test_kn_gate_oracle_parity(ddb):
    """The stepwise KN gate oracle (temp-table big, one equi-join per
    statement) must equal the one-shot — the formulation that denies
    DuckDB's join-order optimizer the lft x cont cross product it picks
    on a 1M-bigram vocabulary."""
    from nzwirelessmap_fetch_spark.operators.text import (
        TEXT_KNESER_NEY_BIGRAM_SQL,
        TEXT_KNESER_NEY_BIGRAM_SQL_STEPS,
    )
    from tests.oracle import frame_fingerprint

    oneshot = ddb.execute(TEXT_KNESER_NEY_BIGRAM_SQL).df()
    for stmt in TEXT_KNESER_NEY_BIGRAM_SQL_STEPS[:-1]:
        ddb.execute(stmt)
    got = ddb.execute(TEXT_KNESER_NEY_BIGRAM_SQL_STEPS[-1]).df()
    assert frame_fingerprint(oneshot) == frame_fingerprint(got)
