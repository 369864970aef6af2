"""Round-9 operator tests: adaptive IVF/SemDeDup cell counts (r8 verdict
directive #1), exact-measure admission guards (#2), in-engine content
hash (#4), txn-log checkpointing (#6/#7)."""

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

    memo.reset("jaccard_pairs")
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "1")
    with pytest.raises(ExactMeasureBoundError, match="dedup_ngram_jaccard_capped"):
        dd.dedup_ngram_jaccard(spark, SF_CORRECT)
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    memo.reset("jaccard_pairs")
    assert dd.dedup_ngram_jaccard(spark, SF_CORRECT).count() > 0


def test_containment_exact_measure_budget_guard(spark, monkeypatch):
    """Same pre-flight for the containment index join — the guard lives
    in the shared builder, so the cap_eval's exact truth side inherits
    it (both are registered exact_measure with the capped twin)."""
    import nzwirelessmap_fetch_spark.operators.dedup as dd
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError

    memo.reset("containment_pairs")
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "1")
    with pytest.raises(ExactMeasureBoundError, match="corpus_containment_capped"):
        dd.corpus_containment(spark, SF_CORRECT)
    # the capped twin is NOT bounded by the guard
    assert dd.corpus_containment_capped(spark, SF_CORRECT).count() >= 0
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    memo.reset("containment_pairs")
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


# ─── r8 verdict directive #6: txn-log checkpointing ─────────────────────────


def _mk_table(sink, table, n_commits, spark=None):
    """Commit n versions through the raw protocol (no Spark needed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(n_commits):
        v = f"v{i}"
        d = sink._dir(table, v)
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"k": [i]}), d / "part-0.parquet")
        sink._commit_logged(
            table, v, [["k", "bigint"]],
            commit_ts=f"2024-01-01T00:00:{i:02d}.000000Z",
        )


def test_txn_log_checkpoint_written_and_read(tmp_path):
    """Every CHECKPOINT_INTERVAL commits a checkpoint lands through the
    O_EXCL protocol; reads resolve via checkpoint + tail replay and
    agree with the full audit scan on every surface."""
    from nzwirelessmap_fetch_spark.sinks.writers import SnapshotParquetTable

    sink = SnapshotParquetTable(tmp_path)
    n = 25
    _mk_table(sink, "t", n)
    cdir = sink._checkpoint_dir("t")
    cps = sorted(p.name for p in cdir.iterdir() if p.name.endswith(".checkpoint.json"))
    assert cps == ["00000010.checkpoint.json", "00000020.checkpoint.json"]
    assert sink._checkpoint_pointer("t").read_text().strip() == "20"

    state = sink._state("t")
    assert state is not None
    assert state["seq"] == n  # tail replay reaches past the checkpoint
    entries = sink.log_entries("t")  # full audit scan
    assert [r[0] for r in state["index"]] == [e["seq"] for e in entries]
    assert [r[1] for r in state["index"]] == [e["version"] for e in entries]
    # every read surface agrees with the audit scan
    assert sink.version_as_of("t", "2024-01-01T00:00:14.500000Z") == "v14"
    assert sink.is_committed("t", "v7") and not sink.is_committed("t", "nope")
    assert sink.schema_of("t", "v3") == [["k", "bigint"]]
    assert sink.resolve("t") == f"v{n - 1}"


def test_txn_log_reads_flat_in_version_count(tmp_path, monkeypatch):
    """The directive's contract: version_as_of cost is checkpoint + tail,
    FLAT in total commits — pinned by counting entry-file reads (must be
    ≤ interval + 2, not O(n)) and by forbidding the full audit scan on
    the hot path."""
    from nzwirelessmap_fetch_spark.sinks import writers as W

    sink = W.SnapshotParquetTable(tmp_path)
    n = 43  # 4 checkpoints + 3-entry tail
    _mk_table(sink, "t", n)

    reads = {"n": 0}
    orig = W.Path.read_text

    def counting_read_text(self, *a, **kw):
        if self.suffix == ".json":
            reads["n"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(W.Path, "read_text", counting_read_text)
    monkeypatch.setattr(
        sink, "log_entries",
        lambda table: (_ for _ in ()).throw(AssertionError("audit scan on hot path")),
    )
    assert sink.version_as_of("t", "2024-01-01T00:00:05.000000Z") == "v5"
    assert reads["n"] <= sink.CHECKPOINT_INTERVAL + 2
    reads["n"] = 0
    assert sink.is_committed("t", "v41")
    assert reads["n"] <= sink.CHECKPOINT_INTERVAL + 2


def test_txn_log_checkpoint_torn_pointer_falls_back(tmp_path):
    """A torn/garbage _last_checkpoint pointer degrades to the full scan
    (correct answers, just slower), never to a wrong answer."""
    from nzwirelessmap_fetch_spark.sinks.writers import SnapshotParquetTable

    sink = SnapshotParquetTable(tmp_path)
    _mk_table(sink, "t", 15)
    sink._checkpoint_pointer("t").write_text("garbage")
    assert sink._state("t") is None
    assert sink.version_as_of("t", "2024-01-01T00:00:12.000000Z") == "v12"
    assert sink.resolve("t") == "v14"


# ─── r8 verdict directive #7: maintenance ops in the multiprocess race ──────


def _txn_maint_worker(root, wid, n_rounds, q):
    """Mixed-op committer: write / optimize-like / restore-like commits
    through the shared admission protocol, plus periodic vacuum — the
    maintenance ops share the conflict check; this proves they share its
    linearizability under real process races."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nzwirelessmap_fetch_spark.sinks.writers import (
        SnapshotConflictError,
        SnapshotParquetTable,
    )

    sink = SnapshotParquetTable(root)
    conflicts = vacuums = 0
    for r in range(n_rounds):
        op = ("write", "optimize", "restore")[(wid + r) % 3]
        version = f"w{wid}r{r}"
        d = sink._dir("t", version)
        d.mkdir(parents=True, exist_ok=True)
        for f in range(3):  # 3 files: a partial read would count 1-2
            pq.write_table(
                pa.table({"k": [wid], "r": [r], "f": [f]}), d / f"part-{f}.parquet"
            )
        while True:
            base = sink.resolve("t")
            try:
                sink._commit_logged(
                    "t",
                    version,
                    [["k", "bigint"], ["r", "bigint"], ["f", "bigint"]],
                    op=op,
                    read_set=[f"t@{base}"],
                    expect_parent=base,
                )
                break
            except SnapshotConflictError:
                conflicts += 1
        if r % 5 == 4:
            sink.vacuum("t", keep_latest=4)
            vacuums += 1
    q.put(("w", wid, conflicts, vacuums))


def _txn_vacuum_reader_worker(root, wid, n_iters, q):
    """Reader racing committers AND vacuums: every observed state must be
    (a) the complete 3-file data, (b) the NAMED vacuumed error, or (c) a
    loud I/O error from a file vanishing mid-read — never a silent
    partial row set."""
    import random

    import duckdb

    from nzwirelessmap_fetch_spark.sinks.writers import SnapshotParquetTable

    rng = random.Random(wid)
    sink = SnapshotParquetTable(root)
    full = named = loud = partial = 0
    for _ in range(n_iters):
        state = sink._state("t")
        versions = [r[1] for r in state["index"]] if state else ["0"]
        v = rng.choice(versions)
        d = sink._dir("t", v)
        if not d.exists():
            # read_version's contract: committed-but-gone == the NAMED
            # vacuum error (is_committed consults the log, not the dir)
            assert sink.is_committed("t", v), f"{v} neither data nor log"
            named += 1
            continue
        try:
            n = duckdb.sql(
                f"SELECT COUNT(*) FROM read_parquet('{d}/*.parquet')"
            ).fetchone()[0]
        except Exception:  # noqa: BLE001 — vanished mid-read: loud, OK
            loud += 1
            continue
        expected = 1 if v == "0" else 3
        if n == expected:
            full += 1
        else:
            partial += 1
    q.put(("r", wid, full, named, loud, partial))


def test_txn_maintenance_ops_multiprocess_linearizable(tmp_path):
    """r8 verdict directive #7: the r8 stress raced write/merge only;
    this races write + optimize + restore commits AND vacuum across 4
    real processes with 2 concurrent readers. Asserts the same
    linearizability invariants, checkpoint integrity, permanent log
    entries for vacuumed versions, and the reader contract (full data |
    named error | loud error — zero silent partials)."""
    import multiprocessing as mp

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nzwirelessmap_fetch_spark.sinks.writers import SnapshotParquetTable

    root = str(tmp_path)
    sink = SnapshotParquetTable(root)
    d = sink._dir("t", "0")
    d.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"k": [0], "r": [0], "f": [0]}), d / "part-0.parquet")
    sink._commit_logged(
        "t", "0", [["k", "bigint"], ["r", "bigint"], ["f", "bigint"]],
        expect_parent=None,
    )

    n_workers, n_rounds, n_readers, n_iters = 4, 12, 2, 60
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_txn_maint_worker, args=(root, w, n_rounds, q))
        for w in range(n_workers)
    ] + [
        ctx.Process(target=_txn_vacuum_reader_worker, args=(root, w, n_iters, q))
        for w in range(n_readers)
    ]
    for p in procs:
        p.start()
    stats = [q.get(timeout=300) for _ in procs]
    for p in procs:
        p.join(timeout=300)
        assert p.exitcode == 0

    entries = sink.log_entries("t")
    assert len(entries) == 1 + n_workers * n_rounds
    versions = [e["version"] for e in entries]
    assert len(set(versions)) == len(versions)
    assert [e["seq"] for e in entries] == list(range(1, len(entries) + 1))
    for prev, cur in zip(entries, entries[1:]):
        assert cur["parent"] == prev["version"]
    assert {e["op"] for e in entries[1:]} == {"write", "optimize", "restore"}
    assert sink.resolve("t") == entries[-1]["version"]
    # checkpoints landed at every interval despite the races, and the
    # checkpointed state equals the audit scan
    state = sink._state("t")
    assert state is not None and state["seq"] == entries[-1]["seq"]
    assert [r[1] for r in state["index"]] == versions
    # vacuumed data is gone but its log entries are permanent
    on_disk = {p.name[2:] for p in (tmp_path / "t").glob("v=*")}
    assert on_disk <= set(versions)
    assert len(on_disk) < len(versions)  # vacuums actually removed data
    # reader contract: zero silent partials; some reads saw live data
    readers = [s for s in stats if s[0] == "r"]
    assert sum(s[2] for s in readers) > 0          # full reads happened
    assert sum(s[5] for s in readers) == 0, "silent partial read"
    writers = [s for s in stats if s[0] == "w"]
    assert sum(s[3] for s in writers) >= 1         # vacuums ran


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
