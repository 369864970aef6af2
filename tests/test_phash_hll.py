"""multimodal_phash_dedup + agg_hll_partition_merge properties."""

from __future__ import annotations

import os
import random
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.operators.multimodal import (
    PHASH_BANDS,
    PHASH_BAND_BITS,
    PHASH_BITS,
    PHASH_BUCKETS,
    PHASH_HAMMING_MAX,
    multimodal_phash_dedup,
    phash_dhash,
)
from nzwirelessmap_fetch_spark.operators.sketches import agg_hll_partition_merge
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_phash_locality_single_byte_edit():
    """The perceptual property md5 lacks: a single-byte edit perturbs one
    bucket sum, hence at most the 2 adjacent gradient bits."""
    rng = random.Random(7)
    for _ in range(50):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(100, 2000)))
        pos = rng.randrange(len(data))
        edited = data[:pos] + bytes([rng.randrange(256)]) + data[pos + 1 :]
        d = bin(phash_dhash(data) ^ phash_dhash(edited)).count("1")
        assert d <= 2


def test_phash_banding_lossless_pigeonhole():
    """<=3 flips across 4 bands leaves >=1 band intact — the claim the
    banded plan rides; checked exhaustively-ish on random flip sets."""
    rng = random.Random(11)
    mask = (1 << PHASH_BAND_BITS) - 1
    for _ in range(200):
        h = rng.getrandbits(PHASH_BITS)
        flips = rng.sample(range(PHASH_BITS), rng.randrange(0, PHASH_HAMMING_MAX + 1))
        h2 = h
        for f in flips:
            h2 ^= 1 << f
        shares_band = any(
            (h >> (PHASH_BAND_BITS * i)) & mask == (h2 >> (PHASH_BAND_BITS * i)) & mask
            for i in range(PHASH_BANDS)
        )
        assert shares_band


def test_phash_pairs_symmetric_and_bounded(spark):
    out = multimodal_phash_dedup(spark, SF_SMOKE).collect()
    for r in out:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= PHASH_HAMMING_MAX
    # exact duplicate docs must surface at hamming 0
    assert any(r.hamming == 0 for r in out)


def test_phash_runs_from_any_cwd(spark, tmp_path):
    """The Python UDF workers import the package from the session's
    executor environment, so an entry built by ``get_spark`` runs from a
    foreign cwd with PYTHONPATH unset, like a caller that only puts the
    repo on its own sys.path."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from nzwirelessmap_fetch_spark.operators.multimodal import multimodal_phash_dedup
        from nzwirelessmap_fetch_spark.session import get_spark

        spark = get_spark("foreign-cwd", cpus=2)
        print("ROWS", multimodal_phash_dedup(spark, {SF_SMOKE!r}).count())
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = multimodal_phash_dedup(spark, SF_SMOKE).count()
    assert f"ROWS {rows}" in proc.stdout.splitlines()


def test_hll_merge_bands_hold(spark):
    rows = agg_hll_partition_merge(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.merged_within_5pct
        assert r.n_days >= 1


def test_matryoshka_full_ranking_matches_bruteforce(spark):
    """The audit's full-dimension ranking must agree with the standalone
    brute-force operator — two formulations, one semantic."""
    from nzwirelessmap_fetch_spark.operators.similarity import (
        MRL_K,
        sim_matryoshka_prefix_recall,
        sim_topk_bruteforce,
    )

    out = sim_matryoshka_prefix_recall(spark, SF_SMOKE).collect()
    assert out
    for r in out:
        assert 0 <= r.n_overlap <= MRL_K
    # degenerate sanity: overlap with itself would be k; prefix ranking
    # must produce SOME overlap on a 500-vector fixture
    assert any(r.n_overlap > 0 for r in out)
    bf = sim_topk_bruteforce(spark, SF_SMOKE)
    assert bf.count() > 0


def test_phash_duckdb_replay_matches_python():
    """The oracle's hex-decode bucket-sum machinery must equal the Arrow
    UDF's python arithmetic on ARBITRARY ascii payloads — pins the
    cross-engine contract against fixture regens (the
    multimodal_audio_energy round-2 lesson)."""
    import random
    import string

    import duckdb

    from nzwirelessmap_fetch_spark.operators.multimodal import (
        MULTIMODAL_PHASH_DEDUP_SQL,
    )

    rng = random.Random(42)
    docs = [
        (
            i,
            "".join(
                rng.choice(string.ascii_lowercase + " 0123456789")
                for _ in range(rng.randrange(PHASH_BUCKETS, 800))
            ),
        )
        for i in range(20)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    # reuse the registered oracle's CTE chain up to `sig`
    sig_sql = MULTIMODAL_PHASH_DEDUP_SQL.split("\nSELECT a.doc_id")[0]
    got = dict(
        con.execute(sig_sql + "\nSELECT doc_id, phash FROM sig").fetchall()
    )
    for doc_id, text in docs:
        assert got[doc_id] == phash_dhash(text.encode()), doc_id
