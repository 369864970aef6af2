"""Property-based tests (hypothesis) for the cross-engine-determinism
primitives — the parts of the engine whose correctness claim is "bit-identical
on ANY input", which example tests can't establish.

Each property batches all generated values into ONE DataFrame per example so
Spark job count stays proportional to max_examples, not to data size.
"""

from __future__ import annotations

import csv
import json
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.functions.hashing import MERSENNE_P, rolling_hash
from nzwirelessmap_fetch_spark.sinks.writers import (
    collect_all_strings,
    write_headered_csv,
    write_single_json_array,
)

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Text alphabet: printable ASCII + a few multibyte chars, so codepoint
# semantics (ascii()/ord parity) are exercised beyond 7-bit.
TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2603),
    max_size=40,
)


def _rolling_hash_model(s: str) -> int:
    """Pure-Python twin of functions.hashing.rolling_hash: fold over the
    regexp-'.' matches (excludes newlines, like the Spark expression)."""
    acc = 0
    for ch in re.findall(".", s):
        acc = (acc * 31 + ord(ch)) % MERSENNE_P
    return acc


@SETTINGS
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_rolling_hash_matches_python_model(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.h for r in df.select(rolling_hash("text").alias("h")).collect()]
    assert got == [_rolling_hash_model(t) for t in texts]


@SETTINGS
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_rolling_hash_in_range_and_deterministic(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    a = [r.h for r in df.select(rolling_hash("text").alias("h")).collect()]
    b = [
        r.h
        for r in df.repartition(7).select(rolling_hash("text").alias("h")).collect()
    ]
    assert sorted(a) == sorted(b)  # partitioning-independent
    assert all(0 <= h < MERSENNE_P for h in a)


ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31)),
        st.one_of(st.none(), TEXT),
    ),
    min_size=1,
    max_size=15,
)


@SETTINGS
@given(ROWS)
def test_single_json_array_roundtrip(spark, tmp_path_factory, rows):
    """P16/P17 pin as a property: the bug-compat array writer emits ONE
    JSON array of all-string records; NULL → '' (CSV-boundary semantics);
    ints keep their decimal text form."""
    out = tmp_path_factory.mktemp("json") / "out.json"
    df = spark.createDataFrame(rows, "a long, b string")
    write_single_json_array(df.columns, collect_all_strings(df), out)
    data = json.load(open(out))
    expect = [
        {"a": "" if a is None else str(a), "b": "" if b is None else b}
        for a, b in rows
    ]
    key = lambda r: (r["a"], r["b"])  # noqa: E731 — writer order is plan order
    assert sorted(data, key=key) == sorted(expect, key=key)


# Cells the CSV boundary must carry intact: quotes, commas, line breaks,
# backslashes, leading and trailing spaces, the empty string and NULL.
CSV_TEXT = st.lists(
    st.sampled_from(["a", "é", " ", '"', "'", ",", "\n", "\r", "\r\n", "\\"]),
    max_size=8,
).map("".join)
CSV_ROWS = st.lists(
    st.tuples(st.one_of(st.none(), CSV_TEXT), st.one_of(st.none(), CSV_TEXT)),
    min_size=1,
    max_size=15,
)


@SETTINGS
@given(CSV_ROWS)
def test_csv_cells_equal_json_values(spark, tmp_path_factory, rows):
    """csv2json2.py:1-3's contract: ``csv.DictReader`` reads the headered
    CSV back as exactly the JSON array's records, in order."""
    out = tmp_path_factory.mktemp("csv")
    df = spark.createDataFrame(rows, "a string, b string")
    collected = collect_all_strings(df)
    write_headered_csv(df.columns, collected, out / "out.csv")
    write_single_json_array(df.columns, collected, out / "out.json")
    with open(out / "out.csv", newline="", encoding="utf-8") as f:
        cells = list(csv.DictReader(f))
    records = json.loads((out / "out.json").read_text())
    assert cells == records
    assert records == [{"a": a or "", "b": b or ""} for a, b in rows]


def _md5_long_model(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


@SETTINGS
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_md5_long_matches_python_model(spark, texts):
    from nzwirelessmap_fetch_spark.functions.hashing import md5_long

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.h for r in df.select(md5_long("text").alias("h")).collect()]
    assert got == [_md5_long_model(t) for t in texts]


@SETTINGS
@given(
    st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=2**31 - 2),
    st.integers(min_value=0, max_value=2**31 - 2),
)
def test_perm_hash_matches_model_and_range(spark, hs, a, b):
    """MinHash permutation hash: (a*h + b) mod P — intermediates must not
    overflow int64 (max a*h ≈ 2^31·2^32 = 2^63 - boundary case)."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.functions.hashing import MERSENNE_P, perm_hash

    df = spark.createDataFrame([(h,) for h in hs], "h long")
    got = [r.p for r in df.select(perm_hash(F.col("h"), a, b).alias("p")).collect()]
    want = [(a * h + b) % MERSENNE_P for h in hs]
    assert got == want
    assert all(0 <= p < MERSENNE_P for p in got)


@SETTINGS
@given(
    st.floats(min_value=0.05, max_value=0.95),
    st.sampled_from([4, 8, 16, 32, 64, 128, 256]),
)
def test_banding_tuner_properties(target_j, total_perms):
    """(bands, rows) must use every permutation, and the achieved S-curve
    threshold must be the closest reachable to the target."""
    from nzwirelessmap_fetch_spark.functions.hashing import banding_for_threshold

    bands, rows = banding_for_threshold(target_j, total_perms)
    assert bands * rows == total_perms
    achieved = (1.0 / bands) ** (1.0 / rows) if bands > 1 else 1.0
    for r in range(1, total_perms + 1):
        if total_perms % r:
            continue
        b = total_perms // r
        alt = (1.0 / b) ** (1.0 / r) if b > 1 else 1.0
        assert abs(achieved - target_j) <= abs(alt - target_j) + 1e-12


@SETTINGS
@given(
    st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=30),
    st.integers(min_value=8, max_value=512),
)
def test_pack_sequences_model(spark, token_counts, budget):
    """Concat-and-chunk geometry on arbitrary (n_tokens, budget): the
    Spark window formulation must match the obvious sequential Python
    model — gapless offsets, chunk indices, span counts."""
    from pyspark.sql import Window

    rows = [(i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    out = (
        df.withColumn("start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "start",
            F.floor(F.col("start") / budget).alias("first_chunk"),
            F.floor((F.col("start") + F.col("n_tokens") - 1) / budget).alias(
                "last_chunk"
            ),
        )
        .collect()
    )
    start = 0
    for r, n in zip(sorted(out, key=lambda r: r.doc_id), token_counts):
        assert r.start == start
        assert r.first_chunk == start // budget
        assert r.last_chunk == (start + n - 1) // budget
        start += n


@SETTINGS
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=50))
def test_bloom_hash_bits_no_false_negatives(spark, keys):
    """The first-principles Bloom construction (plans.relational): for ANY
    key multiset, every inserted key must probe positive — the zero-
    false-negative guarantee is structural, not statistical."""
    from nzwirelessmap_fetch_spark.plans.relational import BLOOM_BITS, _bloom_hashes

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    h1, h2 = _bloom_hashes(F.col("k"))
    bits = {
        r.b
        for r in df.select(F.explode(F.array(h1, h2)).alias("b")).distinct().collect()
    }
    assert all(0 <= b < BLOOM_BITS for b in bits)
    probes = df.select("k", h1.alias("h1"), h2.alias("h2")).collect()
    for r in probes:
        assert r.h1 in bits and r.h2 in bits


@SETTINGS
@given(st.lists(TEXT, min_size=1, max_size=15))
def test_repetition_top_freq_matches_counter(spark, texts):
    """The sorted run-length top-token scan equals collections.Counter on
    arbitrary text."""
    from collections import Counter

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    top = F.expr(
        """
        aggregate(
          array_sort(split(text, ' ')),
          named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
          (s, t) -> named_struct(
            'prev', t,
            'run', IF(s.prev IS NOT NULL AND t = s.prev, s.run + 1, 1),
            'best', GREATEST(s.best,
                             IF(s.prev IS NOT NULL AND t = s.prev, s.run + 1, 1))),
          s -> s.best)
        """
    )
    got = {r.doc_id: r.f for r in df.select("doc_id", top.alias("f")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == max(Counter(t.split(" ")).values())


@SETTINGS
@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=200))
def test_cms_never_undercounts(spark, keys):
    """Count-min structural guarantee: estimate >= exact for EVERY key,
    on arbitrary key multisets (the property the fixture example can't
    establish). Replays the operator's md5-slice hashing on a synthetic
    frame."""
    from collections import Counter

    from nzwirelessmap_fetch_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        _cms_col,
        cms_cell_counts,
    )

    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    counters = {(r.r, r.c): r.cnt for r in cms_cell_counts(df).collect()}
    coords = {
        r.user_id: [r[f"h{i}"] for i in range(CMS_DEPTH)]
        for r in df.distinct()
        .select("user_id", *[_cms_col(F.col("user_id"), i).alias(f"h{i}") for i in range(CMS_DEPTH)])
        .collect()
    }
    exact = Counter(keys)
    for k, n in exact.items():
        est = min(counters[(i, coords[k][i])] for i in range(CMS_DEPTH))
        assert est >= n, f"CMS undercounted key {k}: {est} < {n}"
        assert est <= len(keys), "estimate exceeds stream length"
    assert all(0 <= c < CMS_WIDTH for cs in coords.values() for c in cs)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6), st.integers(min_value=1, max_value=10**4)),
        min_size=1,
        max_size=100,
        unique_by=lambda t: t[0],
    )
)
def test_weighted_sample_priority_scales_inverse_weight(spark, docs):
    """corpus_weighted_sample's integer priority: deterministic across
    partitionings, and monotone — for the SAME doc id, a larger weight
    never yields a larger priority (the weight-proportional property)."""
    df = spark.createDataFrame(docs, "doc_id long, n_chars long")
    prio = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 12), 16, 10)"
        " as bigint) div greatest(cast(n_chars as bigint), 1)"
    ).alias("p")
    a = {r.doc_id: r.p for r in df.select("doc_id", prio).collect()}
    b = {r.doc_id: r.p for r in df.repartition(5).select("doc_id", prio).collect()}
    assert a == b
    doubled = {
        r.doc_id: r.p
        for r in df.withColumn("n_chars", F.col("n_chars") * 2)
        .select("doc_id", prio)
        .collect()
    }
    for k in a:
        assert doubled[k] <= a[k]


def test_canonical_url_anchors_param_names(spark):
    """The tracking-param stripper must not corrupt params whose NAMES
    merely end in 'ref' or embed 'utm_' (pref, href, aff_ref…) — the
    unanchored form turned '?pref=1&id=2' into '?pid=2'."""
    from nzwirelessmap_fetch_spark.operators.text import canonical_url

    cases = {
        "https://x.com/p?pref=1&id=2": "https://x.com/p?pref=1&id=2",
        "https://x.com/p?href=https://y.com&id=2": "https://x.com/p?href=https://y.com&id=2",
        "https://x.com/p?utm_source=a&id=2": "https://x.com/p?id=2",
        "https://x.com/p?id=2&utm_campaign=b": "https://x.com/p?id=2",
        "https://x.com/p?ref=7&utm_medium=c&id=2": "https://x.com/p?id=2",
        "https://x.com/p?utm_source=a": "https://x.com/p",
        "https://x.com/p": "https://x.com/p",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {r.u: r.c for r in df.select("u", canonical_url(F.col("u")).alias("c")).collect()}
    assert got == cases


def _winnow_model(gram_hashes: list[int], w: int) -> list[int]:
    """Pure-Python winnowing: per window, the minimal hash with ties to
    the RIGHTMOST occurrence; distinct selected hashes."""
    out = []
    n = len(gram_hashes)
    for j in range(max(n - w, 0) + 1):
        win = gram_hashes[j : j + w]
        m = min(win)
        # rightmost minimal occurrence
        idx = max(i for i, g in enumerate(win) if g == m)
        out.append((m, j + idx))
    # fingerprint identity = the hash (position only breaks window ties)
    seen, fps = set(), []
    for m, _ in out:
        if m not in seen:
            seen.add(m)
            fps.append(m)
    return sorted(fps)


@SETTINGS
@given(
    st.lists(st.integers(min_value=0, max_value=2**40 - 1), min_size=1, max_size=30),
    st.integers(min_value=2, max_value=6),
)
def test_winnowing_encode_matches_model(spark, grams, w):
    """The integer encode  min(g·w + (w−1−offset)) div w  must equal the
    rightmost-minimal-hash winnowing selection on ANY gram sequence —
    the no-struct-fold trick's correctness claim."""
    df = spark.createDataFrame([(grams,)], "g array<bigint>")
    fps = df.select(
        F.expr(
            f"""
            array_sort(array_distinct(transform(
              sequence(0, greatest(size(g) - {w}, 0)),
              j -> aggregate(
                     sequence(j, least(j + {w} - 1, size(g) - 1)),
                     cast(9223372036854775807 as bigint),
                     (acc, u) -> least(acc, g[u] * {w} + ({w} - 1 - (u - j)))
                   ) div {w})))
            """
        ).alias("fps")
    ).collect()[0].fps
    assert fps == _winnow_model(grams, w)


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),   # price centi-units
            st.integers(min_value=1, max_value=500),      # weight
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_crossing_model(spark, pts):
    """agg_weighted_median's integer crossing (2·cum ≥ total on the
    per-distinct-value pre-agg) equals the naive sorted scan on ANY
    weighted multiset."""
    from pyspark.sql import Window

    df = spark.createDataFrame(pts, "x long, w long")
    per = df.groupBy("x").agg(F.sum("w").alias("wx"))
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wa = Window.partitionBy()
    got = (
        per.select("x", F.sum("wx").over(wc).alias("cum"), F.sum("wx").over(wa).alias("tot"))
        .filter(F.col("cum") * 2 >= F.col("tot"))
        .agg(F.min("x"))
        .collect()[0][0]
    )
    total = sum(w for _, w in pts)
    cum = 0
    for x, w in sorted(pts):
        cum += w
        if 2 * cum >= total:
            expected = x
            break
    assert got == expected


@SETTINGS
@given(st.integers(min_value=1, max_value=64), st.integers(min_value=0, max_value=6))
def test_merkle_manifest_invariant_under_repartition(spark, parts, seed):
    """The merkle manifest is a pure content function: any partition
    layout of the same rows yields identical per-bucket fingerprints."""
    from nzwirelessmap_fetch_spark.functions.hashing import md5_long60

    rows = [(i + seed, f"k{i % 7}") for i in range(50)]
    base = spark.createDataFrame(rows, "id long, k string")

    def manifest(df):
        return sorted(
            df.select(
                (md5_long60(F.col("id").cast("string")) % 8).alias("b"),
                md5_long60(F.concat_ws("|", F.col("id").cast("string"), "k")).alias("h"),
            )
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(h)").alias("x"),
                F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("s"),
            )
            .collect(),
            key=lambda r: r.b,
        )

    assert manifest(base) == manifest(base.repartition(parts))


# ---------------------------------------------------------------------------
# BPE single-pair merge identity (text_bpe_merge_step's core claim)
# ---------------------------------------------------------------------------

WORD = st.text(alphabet="abc", min_size=0, max_size=12)
PAIR = st.text(alphabet="abc", min_size=2, max_size=2)


def _greedy_merge_count(word: str, pair: str) -> int:
    """Reference greedy left-to-right non-overlapping single-pair merge."""
    n = i = 0
    while i < len(word) - 1:
        if word[i : i + 2] == pair:
            n += 1
            i += 2  # merged token consumes both chars (non-overlapping)
        else:
            i += 1
    return n


@SETTINGS
@given(st.lists(st.tuples(WORD, PAIR), min_size=1, max_size=30))
def test_replace_identity_equals_greedy_merge(spark, cases):
    """(len(w) − len(replace(w, p, ''))) div 2 == the greedy
    non-overlapping merge count, for EVERY word/pair — including the
    aa-in-aaa overlap family a counting argument gets wrong. This is
    the identity text_bpe_merge_step's zero-shuffle plan rests on."""
    df = spark.createDataFrame(
        [(w, p) for w, p in cases], "w string, p string"
    ).select(
        "w",
        "p",
        F.expr("(length(w) - length(replace(w, p, ''))) div 2").alias("m"),
    )
    for row in df.collect():
        assert row["m"] == _greedy_merge_count(row["w"], row["p"]), (
            row["w"],
            row["p"],
        )
