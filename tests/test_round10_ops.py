"""Round-10 verdict directives + ADVICE items.

- #5: content-hash canonicalization for Spark 4 collated strings
  (sql_string_collations loses its in-engine adjudication exemption)
  and length-prefixed string cells ('|' payloads can no longer make
  distinct rows hash identically — r9 ADVICE).
- #6: exact-measure refusal budget derived from the host (free spill
  disk / available RAM) instead of a tuned constant.

The vacuum and multi-part checkpoint tests live in
``tests/test_txn_log.py``, the gate-tool tests in
``tests/test_gate_tools.py``.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_CORRECT


# ---------------------------------------------------------------- content hash


def test_content_hash_pipe_payloads_disambiguated(spark):
    """('a|b','c') and ('a','b|c') joined rows collided under the bare
    '|' join (r9 ADVICE); the length prefix makes them distinct — and
    both engines still agree on the new canonical form."""
    from nzwirelessmap_fetch_spark.functions.content_hash import (
        content_fingerprint,
        content_fingerprint_sql,
    )

    a = spark.createDataFrame([("a|b", "c")], "s string, t string")
    b = spark.createDataFrame([("a", "b|c")], "s string, t string")
    fa = content_fingerprint(a).collect()[0]
    fb = content_fingerprint(b).collect()[0]
    assert (fa["hash_sum"], fa["hash_xor"]) != (fb["hash_sum"], fb["hash_xor"])

    con = duckdb.connect()
    fields = [("s", "VARCHAR"), ("t", "VARCHAR")]
    oa = con.execute(
        content_fingerprint_sql("SELECT 'a|b' AS s, 'c' AS t", fields)
    ).fetchone()
    ob = con.execute(
        content_fingerprint_sql("SELECT 'a' AS s, 'b|c' AS t", fields)
    ).fetchone()
    assert (str(fa["hash_sum"]), int(fa["hash_xor"])) == (str(oa[1]), int(oa[2]))
    assert (str(fb["hash_sum"]), int(fb["hash_xor"])) == (str(ob[1]), int(ob[2]))


def test_content_hash_array_string_pipe_and_comma(spark):
    """Array<string> elements are length-prefixed too: ['a,b'] vs
    ['a','b'] and ['x|y'] vs two cells stay distinct, engine-portably."""
    from nzwirelessmap_fetch_spark.functions.content_hash import (
        content_fingerprint,
        content_fingerprint_sql,
    )

    a = spark.createDataFrame([(["a,b"],)], "xs array<string>")
    b = spark.createDataFrame([(["a", "b"],)], "xs array<string>")
    fa = content_fingerprint(a).collect()[0]
    fb = content_fingerprint(b).collect()[0]
    assert (fa["hash_sum"], fa["hash_xor"]) != (fb["hash_sum"], fb["hash_xor"])

    con = duckdb.connect()
    oa = con.execute(
        content_fingerprint_sql(
            "SELECT ['a,b']::VARCHAR[] AS xs", [("xs", "VARCHAR[]")]
        )
    ).fetchone()
    assert (str(fa["hash_sum"]), int(fa["hash_xor"])) == (str(oa[1]), int(oa[2]))


def test_content_hash_collated_string_supported(spark):
    """r9 verdict directive #5: UTF8_LCASE collated strings canonicalize
    via lower() — the oracle twin's explicit rewrite — so the last
    content-hash-exempt registry entry is now engine-adjudicable.
    Unknown collations stay loudly unsupported."""
    from nzwirelessmap_fetch_spark.functions.content_hash import (
        ContentHashUnsupported,
        content_fingerprint,
        content_fingerprint_sql,
    )

    df = spark.sql(
        "SELECT v COLLATE UTF8_LCASE AS s FROM VALUES ('MiXeD'), ('other') t(v)"
    )
    assert df.schema.fields[0].dataType.simpleString() == (
        "string collate UTF8_LCASE"
    )
    sfp = content_fingerprint(df).collect()[0]

    con = duckdb.connect()
    ofp = con.execute(
        content_fingerprint_sql(
            "SELECT lower(s) AS s FROM (VALUES ('MiXeD'), ('other')) t(s)",
            [("s", "VARCHAR")],
        )
    ).fetchone()
    assert int(sfp["n_rows"]) == int(ofp[0])
    assert str(sfp["hash_sum"]) == str(ofp[1])
    assert int(sfp["hash_xor"]) == int(ofp[2])

    # case variants are the SAME equivalence class → same fingerprint
    df2 = spark.sql("SELECT 'MIXED' COLLATE UTF8_LCASE AS s")
    df3 = spark.sql("SELECT 'mixed' COLLATE UTF8_LCASE AS s")
    f2 = content_fingerprint(df2).collect()[0]
    f3 = content_fingerprint(df3).collect()[0]
    assert (f2["hash_sum"], f2["hash_xor"]) == (f3["hash_sum"], f3["hash_xor"])

    bad = spark.sql("SELECT 'x' COLLATE UNICODE_CI AS s")
    with pytest.raises(ContentHashUnsupported):
        content_fingerprint(bad)


def test_sql_string_collations_now_engine_adjudicable(spark, ddb):
    """The registry entry itself: in-engine fingerprint green against
    the oracle — the r9 parity exemption is closed."""
    import __spark_entry__ as entrymod

    from nzwirelessmap_fetch_spark.functions.content_hash import (
        content_fingerprint,
        content_fingerprint_sql,
    )

    sdf = entrymod.queries()["sql_string_collations"](spark, SF_CORRECT)
    sfp = content_fingerprint(sdf).collect()[0]
    osql = entrymod.oracle_sql()["sql_string_collations"]
    desc = ddb.execute(f"DESCRIBE {osql}").fetchall()
    ofp = ddb.execute(
        content_fingerprint_sql(osql, [(d[0], d[1]) for d in desc])
    ).fetchone()
    assert int(sfp["n_rows"]) == int(ofp[0])
    assert str(sfp["hash_sum"]) == str(ofp[1])
    assert int(sfp["hash_xor"]) == int(ofp[2])


# ---------------------------------------------------------------- admission


def test_exact_budget_derivation_tracks_host():
    """r9 verdict directive #6: the refusal point is derived from free
    spill disk / available RAM — a smaller host refuses earlier, the
    dev box derives the same regime as the old 2e9 constant."""
    from nzwirelessmap_fetch_spark.functions import admission as adm

    dev = adm.derive_budget_for(
        disk_free=84 * 10**9, mem_available=128 * 2**30
    )
    assert 1_000_000_000 <= dev <= 3_000_000_000  # old-constant regime

    laptop = adm.derive_budget_for(
        disk_free=8 * 10**9, mem_available=8 * 2**30
    )
    assert laptop < dev / 5  # an order earlier, roughly ∝ disk

    # RAM-starved big-disk host: the memory term binds
    starved = adm.derive_budget_for(
        disk_free=1000 * 10**9, mem_available=2 * 2**30
    )
    assert starved < adm.derive_budget_for(
        disk_free=1000 * 10**9, mem_available=128 * 2**30
    )

    # floor: tiny hosts still run the sf0.01 gate's ~1e5 fan-outs
    assert adm.derive_budget_for(10**6, 10**6) >= adm.MIN_BUDGET

    # density families keep the old 4x ratio
    assert adm.derive_budget_for(84 * 10**9, 128 * 2**30, scale=0.25) * 4 == (
        pytest.approx(dev, rel=0.01)
    )


def test_exact_budget_env_override_is_absolute(monkeypatch):
    from nzwirelessmap_fetch_spark.functions import admission as adm

    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "12345")
    assert adm.exact_pair_budget() == 12345
    assert adm.exact_pair_budget(scale=0.25) == 12345  # verbatim, as before
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    assert adm.exact_pair_budget() >= adm.MIN_BUDGET


def test_spoofed_small_host_refuses_earlier(spark, monkeypatch):
    """End-to-end: on a spoofed tiny host (no env override) the winnow
    exact measure refuses at sf0.01 where the real host admits it."""
    import nzwirelessmap_fetch_spark.functions.admission as adm
    import nzwirelessmap_fetch_spark.operators.text as tx
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError

    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", raising=False)
    monkeypatch.setattr(adm, "disk_free_bytes", lambda: 10**7)  # 10 MB free
    monkeypatch.setattr(adm, "mem_available_bytes", lambda: 10**7)
    adm._derived_budget.cache_clear()
    monkeypatch.setattr(adm, "MIN_BUDGET", 1)
    try:
        memo.reset("winnow")
        with pytest.raises(ExactMeasureBoundError, match="corpus_winnowing_capped"):
            tx.corpus_winnowing(spark, SF_CORRECT)
    finally:
        adm._derived_budget.cache_clear()
        memo.reset("winnow")


# ---------------------------------------------------- sampled Lloyd training


def test_kmeans_train_stride_oracle_parity(ddb):
    """r9 verdict directive #3: the Lloyd training sample's stride and
    membership arithmetic replays identically in DuckDB from COUNT(*),
    and sizes the sample ∝ K·c (linear training cost)."""
    from nzwirelessmap_fetch_spark.operators.similarity import (
        KMEANS_TRAIN_PER_CELL,
        _TRAIN_MIX,
        _TRAIN_MOD,
        _adaptive_n_cells,
        _train_stride,
    )

    n = ddb.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    k = _adaptive_n_cells(n)
    stride = _train_stride(n, k)
    o_stride = ddb.execute(
        f"""SELECT GREATEST(1, COUNT(*) // (GREATEST(16,
              CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))
              * {KMEANS_TRAIN_PER_CELL})) FROM embeddings"""
    ).fetchone()[0]
    assert stride == o_stride

    # membership: python vs DuckDB integer arithmetic, larger stride so
    # the mix actually partitions (sf0.01 derives stride 1 = full corpus)
    big_stride = 7
    py_members = ddb.execute("SELECT vec_id FROM embeddings").df()["vec_id"]
    py_set = {int(v) for v in py_members
              if ((int(v) * _TRAIN_MIX) % _TRAIN_MOD) % big_stride == 0}
    ddb_set = {
        r[0]
        for r in ddb.execute(
            f"""SELECT vec_id FROM embeddings
                WHERE ((vec_id * {_TRAIN_MIX}) % {_TRAIN_MOD})
                      % {big_stride} = 0"""
        ).fetchall()
    }
    assert py_set == ddb_set and 0 < len(ddb_set) < n


def test_kmeans_training_cost_linear_in_corpus():
    """The sampled build's training fan-out |sample|·K ≈ c·K² = c·n is
    LINEAR across decades — vs the unsampled n·K = n^1.5 law."""
    from nzwirelessmap_fetch_spark.operators.similarity import (
        KMEANS_TRAIN_PER_CELL,
        _adaptive_n_cells,
        _train_stride,
    )

    prev = None
    for n in (10**4, 10**5, 10**6, 10**7):
        k = _adaptive_n_cells(n)
        sample = n // _train_stride(n, k)
        fanout = sample * k
        if prev is not None:
            assert fanout / prev < 15  # ~10x per decade = linear (±sqrt noise)
        prev = fanout
        assert sample <= KMEANS_TRAIN_PER_CELL * k * 2


def test_content_hash_adversarial_values_cross_engine(spark):
    """Deterministic adversarial matrix through BOTH engines' canonical
    forms: tier-boundary doubles (the 9e12 / 9e24 pin branches), ±Inf,
    NaN (canonicalizes to NULL), -0.0, min/max BIGINT, empty / unicode /
    control-char / '|' strings, an all-NULL row, and a duplicated row
    (SUM must see it twice while XOR cancels — both engines must agree
    on both aggregates)."""
    import datetime as dt

    from nzwirelessmap_fetch_spark.functions.content_hash import (
        content_fingerprint,
        content_fingerprint_sql,
    )

    ts = dt.datetime(2024, 2, 29, 23, 59, 59, 999999)
    d = dt.date(2024, 2, 29)
    rows = [
        ("", -0.0, 0, ts, d),
        ("naïve—☃", 8.9e12, -9223372036854775808, ts, d),
        ("a|b", 9.1e12, 9223372036854775807, ts, d),
        ("tab\tand\nnewline", 1e25, -1, ts, d),
        (None, None, None, None, None),
        ("inf", float("inf"), 42, ts, d),
        ("-inf", float("-inf"), 7, ts, d),
        ("nan", float("nan"), 1, ts, d),
        ("a|b", 9.1e12, 9223372036854775807, ts, d),  # exact duplicate
    ]
    df = spark.createDataFrame(
        rows, "s string, x double, i bigint, t timestamp, dd date"
    )
    got = content_fingerprint(df).collect()[0]
    assert got["n_rows"] == len(rows)

    vals = ", ".join(
        "({})".format(", ".join([
            "NULL" if r[0] is None else "'" + r[0].replace(
                "\t", "'||chr(9)||'").replace("\n", "'||chr(10)||'") + "'",
            "NULL" if r[1] is None else (
                "'Infinity'::DOUBLE" if r[1] == float("inf")
                else "'-Infinity'::DOUBLE" if r[1] == float("-inf")
                else "'NaN'::DOUBLE" if r[1] != r[1]
                else f"CAST({r[1]!r} AS DOUBLE)"
            ),
            "NULL" if r[2] is None else f"CAST({r[2]} AS BIGINT)",
            "NULL" if r[3] is None else
            "TIMESTAMP '2024-02-29 23:59:59.999999'",
            "NULL" if r[4] is None else "DATE '2024-02-29'",
        ]))
        for r in rows
    )
    sql = (
        f"SELECT * FROM (VALUES {vals}) AS t(s, x, i, t, dd)"
    )
    fields = [
        ("s", "VARCHAR"), ("x", "DOUBLE"), ("i", "BIGINT"),
        ("t", "TIMESTAMP"), ("dd", "DATE"),
    ]
    con = duckdb.connect()
    oracle = con.execute(content_fingerprint_sql(sql, fields)).fetchone()
    assert int(oracle[0]) == len(rows)
    assert str(got["hash_sum"]) == str(oracle[1])
    assert int(got["hash_xor"]) == int(oracle[2])

    # the duplicate row is visible to SUM: dropping it changes hash_sum
    # but leaves hash_xor unchanged (xor of an identical pair cancels)
    got9 = got
    got8 = content_fingerprint(
        spark.createDataFrame(
            rows[:-1], "s string, x double, i bigint, t timestamp, dd date"
        )
    ).collect()[0]
    assert got8["hash_sum"] != got9["hash_sum"]
    # both aggregates must recover the SAME 60-bit row hash for the
    # dropped duplicate: sum difference = xor difference = h(dup row)
    dup_hash = int(str(got9["hash_sum"])) - int(str(got8["hash_sum"]))
    assert dup_hash == int(got8["hash_xor"]) ^ int(got9["hash_xor"])
    assert 0 <= dup_hash < 2**60
