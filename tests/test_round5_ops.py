"""Round-5 operator tests: capped-containment twin, scale-profile
registry metadata, and ADVICE fixes. The merge-into writer tests live
in ``tests/test_txn_log.py``."""

from __future__ import annotations

from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.operators.dedup import (
    CONTAIN_DEN,
    CONTAIN_NUM,
    JACCARD_MAX_DF,
    _containment_pairs,
    _shingles,
    corpus_containment,
    corpus_containment_capped,
)
from nzwirelessmap_fetch_spark.catalog import Catalog
from tests.conftest import SF_SMOKE


def test_containment_capped_matches_semantics(spark):
    """The df-capped containment must equal a from-scratch recompute of
    containment over the CAPPED shingle sets — the valve changes the
    measure's input sets, never its arithmetic."""
    rows = corpus_containment_capped(spark, SF_SMOKE).collect()
    # independent recompute: capped shingle sets as Python sets
    sh = _shingles(
        Catalog(spark, SF_SMOKE).table("documents"), max_df=JACCARD_MAX_DF
    ).collect()
    sets: dict[int, set[str]] = {}
    for r in sh:
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    expected = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and len(sa & sb) * CONTAIN_DEN >= len(sa) * CONTAIN_NUM:
                expected.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert got == expected
    for r in rows:
        assert r.n_inter == len(sets[r.doc_a] & sets[r.doc_b])
        assert r.n_a == len(sets[r.doc_a])
        assert r.is_subset == (r.n_inter == r.n_a)


def test_containment_cap_off_is_identity(spark):
    """A cap looser than every shingle's df must reproduce the exact
    (uncapped) operator bit-for-bit — the valve is a pure filter."""
    uncapped = corpus_containment(spark, SF_SMOKE)
    loose = _containment_pairs(spark, SF_SMOKE, max_df=10**9)
    assert loose.exceptAll(uncapped).count() == 0
    assert uncapped.exceptAll(loose).count() == 0


def test_jdbc_ingest_live_roundtrip(spark, tmp_path):
    """LIVE end-to-end JDBC ingest in this container: Spark ships the
    Derby embedded driver, so the generic `read_jdbc` path — the exact
    machinery `read_access_jdbc` funnels through when the UCanAccess jar
    is present — is driven against a real JDBC database, not a mock.
    Creates an embedded Derby DB through the JVM, inserts Access-shaped
    rows (MONEY as DECIMAL(19,4), BOOLEAN as SMALLINT), reads it back via
    spark.read.format('jdbc'), and applies the closed-map type contract."""
    from nzwirelessmap_fetch_spark.sources.readers import (
        access_select_with_conversions,
        read_jdbc,
    )

    db = str(tmp_path / "derbydb")
    jvm = spark._jvm  # noqa: SLF001
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    st = conn.createStatement()
    st.execute(
        'CREATE TABLE licences ("licenceid" INT, "fee" DECIMAL(19,4), '
        '"active" SMALLINT, "name" VARCHAR(64))'
    )
    st.execute(
        'INSERT INTO licences VALUES (1, 150.2500, 1, \'Alpha\'),'
        "(2, 0.0000, 0, 'Beta')"
    )
    st.close()
    conn.close()

    df = read_jdbc(
        spark,
        f"jdbc:derby:{db}",
        "licences",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    out = access_select_with_conversions(
        df,
        {
            "licenceid": "LONG",
            "fee": "MONEY",
            "active": "BOOLEAN",
            "name": "TEXT",
        },
    )
    rows = {r.licenceid: r for r in out.collect()}
    assert len(rows) == 2
    assert rows[1].fee == "150.2500"  # MONEY → string, 4dp wire format
    assert rows[1].active == 1 and rows[2].active == 0  # BOOLEAN → 0/1 int
    assert dict(out.dtypes)["licenceid"] == "int"


def test_kmv_sketch_properties(spark):
    """KMV invariants: the merged per-group sketch must equal the direct
    sketch's estimate exactly (bottom-k algebra), and when the distinct
    count is below k the sketch degrades to the exact count."""
    from nzwirelessmap_fetch_spark.operators.sketches import (
        KMV_K,
        agg_kmv_distinct,
    )
    from tests.conftest import SF_CORRECT

    row = agg_kmv_distinct(spark, SF_CORRECT).collect()[0]
    assert row.est == row.est_merged  # merge property, exact equality
    if row.n_exact < KMV_K:
        assert row.est == row.n_exact  # below-k: sketch IS the set
    else:
        # ~1/sqrt(k-2) relative error; allow 4 sigma
        assert row.err_ppm < 4_000_000 / (KMV_K - 2) ** 0.5

    small = agg_kmv_distinct(spark, SF_SMOKE).collect()[0]
    assert small.n_exact < KMV_K and small.est == small.n_exact


def test_calibration_bins_consistency(spark):
    """Reliability-table invariants: bins partition the corpus, ppm
    columns stay in range, and the ECE terms are the n-weighted gaps."""
    from nzwirelessmap_fetch_spark.catalog import Catalog
    from nzwirelessmap_fetch_spark.operators.mlprep import ml_calibration_bins

    rows = ml_calibration_bins(spark, SF_SMOKE).collect()
    total = Catalog(spark, SF_SMOKE).table("orders").count()
    assert sum(r.n for r in rows) == total
    nt = sum(r.n for r in rows)
    for r in rows:
        assert 0 <= r.pred_ppm <= 1_000_000
        assert 0 <= r.obs_ppm <= 1_000_000
        assert r.gap_ppm == abs(r.pred_ppm - r.obs_ppm)
        assert r.ece_term_ppm == r.gap_ppm * r.n // nt


def test_matryoshka_recall_bounds(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        TOP_K,
        embedding_matryoshka_eval,
    )

    rows = embedding_matryoshka_eval(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_overlap <= TOP_K
        assert r.recall_ppm == r.n_overlap * 1_000_000 // TOP_K


def _make_wav(freq_hz: float, n_frames: int, rate: int = 8000) -> bytes:
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack(
                "<h", int(12000 * math.sin(2 * math.pi * freq_hz * i / rate))
            )
            for i in range(n_frames)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_decode_real_path(spark):
    """REAL decoder end-to-end in this container: synthesized 16-bit PCM
    WAV blobs flow through the same mapInPandas plumbing as the registry's
    fake-decode entries, and the wave-header fields + RMS agree with a
    local numpy recompute."""
    import numpy as np

    from nzwirelessmap_fetch_spark.operators.multimodal import (
        audio_decode_features,
        decode_audio,
    )

    blobs = [(i, _make_wav(200.0 + 50 * i, 800 + 100 * i)) for i in range(6)]
    media = spark.createDataFrame(blobs, "media_id long, media binary")
    rows = {r.media_id: r for r in audio_decode_features(media).collect()}
    assert len(rows) == 6
    for i, data in blobs:
        local = decode_audio(data)
        r = rows[i]
        assert (r.sample_rate, r.n_channels, r.n_frames) == (8000, 1, 800 + 100 * i)
        assert np.isclose(r.rms, local["rms"])
        assert r.rms > 1000  # a real sine wave, not the fake's hash


def test_image_decode_both_paths():
    """Import-guarded image decoder: real PIL decode when the library is
    present, documented NotImplementedError when absent — the swap point
    is the callable, never the plan shape."""
    import pytest

    from nzwirelessmap_fetch_spark.operators.multimodal import (
        IMAGE_DECODER_AVAILABLE,
        decode_image,
        fake_decode_features,
    )

    payload = b"not-an-image-but-bytes"
    fake = fake_decode_features(payload)
    assert set(fake) == {"n_bytes", "content_md5", "width", "height"}
    if not IMAGE_DECODER_AVAILABLE:
        with pytest.raises(NotImplementedError):
            decode_image(payload)
        pytest.skip("PIL absent in this container: real path covered on PIL hosts")
    # PIL present: a 1-pixel PNG must decode for real
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (3, 2)).save(buf, format="PNG")
    real = decode_image(buf.getvalue())
    assert (real["width"], real["height"]) == (3, 2)
    assert set(real) == set(fake)


def test_geo_grid_join_exact_vs_bruteforce(spark):
    """The 3×3 stencil grid join must return EXACTLY the within-R pairs
    (cell side = R ⇒ no within-R pair escapes adjacent cells) — verified
    against the quadratic brute force on the smoke fixture."""
    from nzwirelessmap_fetch_spark.plans.flagship import (
        GRID_R_CENTS,
        geo_grid_neighbor_join,
    )

    s = Catalog(spark, SF_SMOKE).table("supplier").collect()
    pts = {
        r.s_suppkey: (
            int(round(float(r.s_acctbal) * 100)) + 100_000,
            (r.s_suppkey * 104729) % 1_000_000,
        )
        for r in s
    }
    expected = set()
    items = sorted(pts.items())
    for i, (ida, (xa, ya)) in enumerate(items):
        for idb, (xb, yb) in items[i + 1 :]:
            if (xa - xb) ** 2 + (ya - yb) ** 2 <= GRID_R_CENTS**2:
                expected.add((ida, idb))
    got = {
        (r.id_a, r.id_b) for r in geo_grid_neighbor_join(spark, SF_SMOKE).collect()
    }
    assert got == expected and expected  # exact, and the fixture has pairs


def test_containment_cap_eval_invariants(spark):
    """Cap-eval sanity: hits bound both sets, ppm formulas exact, and
    the numbers agree with recomputing the two pair sets directly.
    (Capped pairs are NOT necessarily a subset of truth — the cap
    shrinks |A| denominators, so containment can newly trip — which is
    exactly why precision is reported, not assumed 1.)"""
    from nzwirelessmap_fetch_spark.operators.dedup import (
        JACCARD_MAX_DF,
        _containment_pairs,
        corpus_containment_cap_eval,
    )

    row = corpus_containment_cap_eval(spark, SF_SMOKE).collect()[0]
    exact = {
        (r.doc_a, r.doc_b)
        for r in _containment_pairs(spark, SF_SMOKE, max_df=None).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in _containment_pairs(
            spark, SF_SMOKE, max_df=JACCARD_MAX_DF
        ).collect()
    }
    assert (row.n_truth, row.n_capped, row.n_hit) == (
        len(exact),
        len(capped),
        len(exact & capped),
    )
    assert row.n_hit <= min(row.n_truth, row.n_capped)
    assert row.precision_ppm == row.n_hit * 1_000_000 // max(row.n_capped, 1)
    assert row.recall_ppm == row.n_hit * 1_000_000 // max(row.n_truth, 1)


def test_scale_profiles_metadata():
    """Every exact-measure entry must name an existing, scale-safe twin
    (r4 verdict directive #5: the 100 TB plan is registry metadata, not
    a docstring footnote)."""
    from nzwirelessmap_fetch_spark.plans import registry

    profiles = registry.scale_profiles()
    qs = registry.queries()
    exact = {n: p for n, p in profiles.items() if p["scale_profile"] == "exact_measure"}
    assert exact, "expected at least the three Σdf² exact-measure entries"
    for name, p in exact.items():
        twin = p["scale_twin"]
        assert twin is not None, f"{name} lacks a scale twin"
        assert twin in qs, f"{name}'s twin {twin} is not registered"
        assert profiles[twin]["scale_profile"] == "scale_safe"
    for expected in (
        "dedup_ngram_jaccard",
        "corpus_winnowing",
        "corpus_containment",
    ):
        assert expected in exact


def test_containment_cap_bounds_pair_fanout(spark):
    """The valve's whole point: capped postings bound the inverted-index
    fan-out by |keys|·cap² while the uncapped fan-out is Σdf²."""
    d = Catalog(spark, SF_SMOKE).table("documents")
    df_counts = (
        _shingles(d)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    uncapped_pairs = sum(r.df * r.df for r in df_counts)
    capped_pairs = sum(
        r.df * r.df for r in df_counts if r.df <= JACCARD_MAX_DF
    )
    n_keys_kept = sum(1 for r in df_counts if r.df <= JACCARD_MAX_DF)
    assert capped_pairs <= n_keys_kept * JACCARD_MAX_DF**2
    assert capped_pairs < uncapped_pairs
