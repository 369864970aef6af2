"""Round-9 operator tests: adaptive IVF/SemDeDup cell counts (r8 verdict
directive #1), exact-measure admission guards (#2), in-engine content
hash (#4). The txn-log checkpointing tests (#6/#7) live in
``tests/test_txn_log.py``."""

from __future__ import annotations

import math

import duckdb
import pytest

from tests.conftest import SF_CORRECT


def test_adaptive_ivf_params_match_oracle_arithmetic():
    """The corpus-derived K = max(16, ⌊√n⌋) and n_probe = max(4, ⌊√K⌋)
    must be IEEE-identical between the Python helpers and the oracle's
    kparam/pparam CTE arithmetic — an off-by-one at a perfect-square
    boundary would silently pick different centroid sets in the two
    engines and the hash gate would blame the wrong stage."""
    from nzwirelessmap_fetch_spark.operators.similarity import (
        _adaptive_n_cells,
        _adaptive_n_probe,
    )

    con = duckdb.connect()
    # perfect squares, their neighbors, the floor region, and big values
    ns = sorted(
        {0, 1, 2, 15, 16, 17, 255, 256, 257, 499, 500, 2000, 20000}
        | {k * k + d for k in (4, 22, 44, 141, 316, 1000, 31623) for d in (-1, 0, 1)}
    )
    for n in ns:
        k_sql, p_sql = con.execute(
            f"""SELECT GREATEST(16, CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)),
                       GREATEST(4, CAST(FLOOR(SQRT(CAST(
                         GREATEST(16, CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT))
                       AS DOUBLE))) AS BIGINT))"""
        ).fetchone()
        k_py = _adaptive_n_cells(n)
        assert k_py == k_sql, f"n={n}: K python {k_py} != sql {k_sql}"
        assert _adaptive_n_probe(k_py) == p_sql, f"n={n}: probe mismatch"


def test_semdedup_cell_valve_sharding_parity():
    """The sub-shard arithmetic (n_sub = ⌈csz/cap⌉, sub = vec_id mod
    n_sub) must agree between Spark-side Python-derived cap and DuckDB's
    CEIL/% over the same inputs, including the inert case csz <= cap."""
    from nzwirelessmap_fetch_spark.operators.similarity import (
        SEMDEDUP_CELL_CAP_FACTOR,
        SEMDEDUP_CELL_CAP_MIN,
        _adaptive_n_cells,
    )

    con = duckdb.connect()
    for n, csz in [(500, 10), (500, 64), (500, 65), (2000, 800), (2000, 368),
                   (50000, 12000), (50000, 50000)]:
        k = _adaptive_n_cells(n)
        cap = max(
            SEMDEDUP_CELL_CAP_MIN,
            SEMDEDUP_CELL_CAP_FACTOR * math.ceil(n / max(k, 1)),
        )
        cap_sql, nsub_sql = con.execute(
            f"""SELECT GREATEST({SEMDEDUP_CELL_CAP_MIN},
                         {SEMDEDUP_CELL_CAP_FACTOR} * CAST(CEIL(
                           CAST({n} AS DOUBLE) / {k}) AS BIGINT)),
                       CAST(CEIL(CAST({csz} AS DOUBLE) / GREATEST({SEMDEDUP_CELL_CAP_MIN},
                         {SEMDEDUP_CELL_CAP_FACTOR} * CAST(CEIL(
                           CAST({n} AS DOUBLE) / {k}) AS BIGINT))) AS BIGINT)"""
        ).fetchone()
        assert cap == cap_sql, f"n={n}: cap python {cap} != sql {cap_sql}"
        n_sub = math.ceil(csz / cap)
        assert n_sub == nsub_sql, f"n={n},csz={csz}: n_sub mismatch"
        if csz <= cap:
            assert n_sub == 1  # valve inert on balanced cells
        # mod parity on a sample of vec_ids
        for vid in (0, 1, csz - 1, 7777):
            assert vid % n_sub == con.execute(
                f"SELECT {vid} % {n_sub}"
            ).fetchone()[0]


def test_semdedup_valve_subshards_oversized_cell(spark):
    """Drive the valve end-to-end: with the cap forced below the biggest
    cell, corpus_semdedup still runs, its pair work is confined to
    (cell, sub) blocks, and every reported pair is a genuine
    within-block near-dup (cos >= tau, keep < drop)."""
    import nzwirelessmap_fetch_spark.operators.similarity as sim

    base = sim.corpus_semdedup(spark, SF_CORRECT).collect()
    assert len(base) > 0
    orig_min = sim.SEMDEDUP_CELL_CAP_MIN
    orig_factor = sim.SEMDEDUP_CELL_CAP_FACTOR
    try:
        sim.SEMDEDUP_CELL_CAP_MIN = 8
        sim.SEMDEDUP_CELL_CAP_FACTOR = 0  # cap = 8: every cell sub-shards
        valved = sim.corpus_semdedup(spark, SF_CORRECT).collect()
    finally:
        sim.SEMDEDUP_CELL_CAP_MIN = orig_min
        sim.SEMDEDUP_CELL_CAP_FACTOR = orig_factor
    # the valve only DROPS cross-shard pairs: the drop set shrinks (or
    # holds) and every surviving (dropped, kept) pair exists in the
    # exact within-cell result with the same evidence partner ordering
    base_drops = {(r.cell, r.dropped_vec) for r in base}
    for r in valved:
        assert (r.cell, r.dropped_vec) in base_drops
        assert r.kept_rep < r.dropped_vec
        assert r.max_cos >= sim.SEMDEDUP_TAU
    assert len(valved) <= len(base)


def test_jaccard_exact_measure_budget_guard(spark, monkeypatch):
    """r8 verdict directive #2: dedup_ngram_jaccard pre-flights its
    prefix-join fan-out and refuses over-budget runs naming the capped
    twin, before generating any pair."""
    import nzwirelessmap_fetch_spark.operators.dedup as dd
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError

    memo.reset("jaccard_pair")
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "1")
    with pytest.raises(ExactMeasureBoundError, match="dedup_ngram_jaccard_capped"):
        dd.dedup_ngram_jaccard(spark, SF_CORRECT)
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    memo.reset("jaccard_pair")
    assert dd.dedup_ngram_jaccard(spark, SF_CORRECT).count() > 0


def test_containment_exact_measure_budget_guard(spark, monkeypatch):
    """Same pre-flight for the containment index join — the guard lives
    in the shared builder, so the cap_eval's exact truth side inherits
    it (both are registered exact_measure with the capped twin)."""
    import nzwirelessmap_fetch_spark.operators.dedup as dd
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError

    memo.reset("containment")
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "1")
    with pytest.raises(ExactMeasureBoundError, match="corpus_containment_capped"):
        dd.corpus_containment(spark, SF_CORRECT)
    # the capped twin is NOT bounded by the guard
    assert dd.corpus_containment_capped(spark, SF_CORRECT).count() >= 0
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    memo.reset("containment")
    assert dd.corpus_containment(spark, SF_CORRECT).count() > 0


def test_topk_exact_measure_budget_guard(spark, monkeypatch):
    """sim_topk_bruteforce / sim_topk_numpy pre-flight |corpus|·|queries|
    (a metadata count — no scan) and refuse naming sim_ivf_kmeans; the
    recall/MRR evals inherit through their truth sides."""
    import nzwirelessmap_fetch_spark.operators.similarity as sim
    from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError

    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "1")
    for fn in (sim.sim_topk_bruteforce, sim.sim_topk_numpy,
               sim.sim_ivf_recall_eval, sim.ml_mrr_eval):
        with pytest.raises(ExactMeasureBoundError, match="sim_ivf_kmeans"):
            fn(spark, SF_CORRECT)
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    assert sim.sim_topk_bruteforce(spark, SF_CORRECT).count() > 0


def test_content_fingerprint_catches_single_cell_change(spark):
    """r8 verdict directive #4: the in-engine fingerprint must fail a
    wrong-content-right-cardinality result that count parity passes."""
    from nzwirelessmap_fetch_spark.functions.content_hash import (
        content_fingerprint,
    )

    base = spark.createDataFrame(
        [(1, 2, 3), (4, 5, 6), (7, 8, 9)], "doc_a long, doc_b long, hamming long"
    )
    bent = spark.createDataFrame(
        [(1, 2, 3), (4, 5, 7), (7, 8, 9)], "doc_a long, doc_b long, hamming long"
    )
    fb = content_fingerprint(base).collect()[0]
    fx = content_fingerprint(bent).collect()[0]
    assert fb["n_rows"] == fx["n_rows"] == 3  # count parity is blind here
    assert fb["hash_sum"] != fx["hash_sum"]
    assert fb["hash_xor"] != fx["hash_xor"]
    # order-insensitive: a permuted frame fingerprints identically
    perm = spark.createDataFrame(
        [(7, 8, 9), (1, 2, 3), (4, 5, 6)], "doc_a long, doc_b long, hamming long"
    )
    fp = content_fingerprint(perm).collect()[0]
    assert (fb["hash_sum"], fb["hash_xor"]) == (fp["hash_sum"], fp["hash_xor"])


def test_content_fingerprint_typed_parity_with_duckdb(spark):
    """Engine parity of the canonical forms across the supported type
    families: ints, strings (incl. NULL and '|' payloads), booleans,
    dates, timestamps with microseconds, floats (micro pin, incl. a
    negative and a NULL), decimals, and int/string arrays."""
    import datetime as dt
    from decimal import Decimal

    from nzwirelessmap_fetch_spark.functions.content_hash import (
        content_fingerprint,
        content_fingerprint_sql,
    )

    rows = [
        (1, "a|b", True, dt.date(2024, 1, 2),
         dt.datetime(2024, 1, 2, 3, 4, 5, 678901), 1.25, Decimal("1.500000"),
         [1, 2, None], ["x", None]),
        (None, None, None, None, None, None, None, None, None),
        (-7, "", False, dt.date(1999, 12, 31),
         dt.datetime(2000, 1, 1, 0, 0, 0, 0), -0.0000015, Decimal("-2.000000"),
         [], []),
    ]
    schema = ("i long, s string, b boolean, d date, ts timestamp, "
              "f double, dec decimal(18,6), ai array<long>, as array<string>")
    df = spark.createDataFrame(rows, schema)
    sfp = content_fingerprint(df).collect()[0]

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    inner = """SELECT * FROM (VALUES
      (1, 'a|b', true, DATE '2024-01-02',
       TIMESTAMP '2024-01-02 03:04:05.678901', 1.25::DOUBLE,
       CAST('1.500000' AS DECIMAL(18,6)), [1,2,NULL]::BIGINT[],
       ['x',NULL]::VARCHAR[]),
      (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      (-7, '', false, DATE '1999-12-31',
       TIMESTAMP '2000-01-01 00:00:00', -0.0000015::DOUBLE,
       CAST('-2.000000' AS DECIMAL(18,6)), []::BIGINT[], []::VARCHAR[])
    ) t(i, s, b, d, ts, f, dec, ai, "as")"""
    fields = [("i", "BIGINT"), ("s", "VARCHAR"), ("b", "BOOLEAN"),
              ("d", "DATE"), ("ts", "TIMESTAMP"), ("f", "DOUBLE"),
              ("dec", "DECIMAL(18,6)"), ("ai", "BIGINT[]"), ("as", "VARCHAR[]")]
    ofp = con.execute(content_fingerprint_sql(inner, fields)).fetchone()
    assert int(sfp["n_rows"]) == int(ofp[0])
    assert str(sfp["hash_sum"]) == str(ofp[1])
    assert int(sfp["hash_xor"]) == int(ofp[2])


def test_content_fingerprint_unsupported_type_is_loud(spark):
    """A column without an engine-portable canonical form must raise
    (callers then degrade to count parity EXPLICITLY), never hash."""
    from nzwirelessmap_fetch_spark.functions.content_hash import (
        ContentHashUnsupported,
        content_fingerprint,
        content_fingerprint_sql,
    )

    df = spark.createDataFrame([({"k": 1},)], "m map<string,int>")
    with pytest.raises(ContentHashUnsupported):
        content_fingerprint(df)
    with pytest.raises(ContentHashUnsupported):
        content_fingerprint_sql("SELECT 1", [("m", "MAP(VARCHAR, INTEGER)")])


def test_frame_fingerprint_vectorization_identical():
    """The r9 vectorized frame_fingerprint must produce byte-identical
    digests to the original iterrows formulation (the driver-method
    stand-in cannot drift)."""
    import datetime as dt
    import hashlib

    import numpy as np
    import pandas as pd

    from tests.oracle import _norm_cell, frame_fingerprint

    def reference(df):
        cols = tuple(sorted(df.columns))
        rows = [
            "|".join(_norm_cell(row[c]) for c in cols)
            for _, row in df.iterrows()
        ]
        return len(df), cols, hashlib.sha256(
            "\n".join(sorted(rows)).encode()
        ).hexdigest()

    df = pd.DataFrame(
        {
            "b": [1.0, 2.5, float("nan"), 1e16, -3.0],
            "a": [1, 2, 3, 4, 5],
            "s": ["x|y", "", None, "z", "w"],
            "t": [pd.Timestamp("2024-01-02 03:04:05.678901")] * 5,
            "l": [[1, 2], [], None, [3], [4.5, None]],
            "d": [dt.date(2024, 1, 2)] * 5,
        }
    )
    assert frame_fingerprint(df) == reference(df)
    empty = pd.DataFrame({"a": [], "b": []})
    assert frame_fingerprint(empty) == reference(empty)
