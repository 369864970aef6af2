"""Gate-level cache of the quadratic oracle substrate.

Every registry oracle that re-derives the exact word-bigram Jaccard
pairs composes one prelude from ``operators/dedup.py``; its
full-postings block ``_INTER_CTES`` (``w``, ``sh``, ``sz`` and
``inter``, the distinct co-occurring document pairs with their
shared-shingle counts: the Σdf² join) is the one expensive artifact
those oracles share. At sf1 it is a 0.7–2.5 billion-row join per
oracle; one such oracle took 1253 s in the sf1-Zipf gate, and three
shards each spilling their own copy ran the disk out.

This module swaps that block, by string identity, for the same CTEs
with ``inter`` read from a per-connection temp table built once
(``CREATE TEMP TABLE IF NOT EXISTS``), leaving every other byte of the
oracle untouched. An entry is eligible when its oracle contains the
block, so the eligible set is derived from the registry. The df-capped
prelude builds ``sh`` through a ``keep`` semi-join, a different text,
so the capped twins never match and keep their one-shot oracles. The
containment oracles read ordered pairs as both orientations of the
``<`` ``inter``, so they are served by the same table.

Used only by tools/check_queries.py under SPARK_GRAFT_ORACLE_SEQ=1 (the
sharded large-SF gate). The sf0.01 gate always runs the one-shot
strings. Equality of swapped and one-shot results is pinned by
tests/test_round8_ops.py::test_inter_cache_transform_parity.
"""

from __future__ import annotations

from nzwirelessmap_fetch_spark.operators.dedup import _INTER_CTE, _INTER_CTES

CACHE_TABLE = "_gate_inter_lt"

# Built once per DuckDB connection; the only quadratic statement left in
# an eligible gate run.
CACHE_BUILD = (
    f"CREATE TEMP TABLE IF NOT EXISTS {CACHE_TABLE} AS\n"
    f"WITH {_INTER_CTES}\nSELECT doc_a, doc_b, n_inter FROM inter"
)
_CACHED_INTER_CTES = _INTER_CTES.replace(
    _INTER_CTE, f"inter AS (SELECT doc_a, doc_b, n_inter FROM {CACHE_TABLE})"
)


def eligible() -> frozenset[str]:
    """The registry entries whose one-shot oracle carries the
    full-postings block."""
    from nzwirelessmap_fetch_spark.plans import registry

    oracles = registry.oracle_sql()
    return frozenset(n for n, sql in oracles.items() if _INTER_CTES in sql)


def sequenced(statements: list[str]) -> list[str] | None:
    """[cache build, *statements with the block's ``inter`` read from the
    cache], or None when no statement carries the block (run those
    unchanged)."""
    hits = sum(s.count(_INTER_CTES) for s in statements)
    if hits == 0:
        return None
    if hits != 1:
        raise AssertionError(f"expected the block once, found it {hits} times")
    swapped = (s.replace(_INTER_CTES, _CACHED_INTER_CTES) for s in statements)
    return [CACHE_BUILD, *swapped]
