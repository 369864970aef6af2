"""Growth probe for the adaptive-K SemDeDup cell structure (r8 verdict
directive #1 "done" criterion): within-cell pair count must grow
SUB-quadratically across corpus decades.

For each available embeddings fixture this computes, in DuckDB (the
same arithmetic the oracle replays):
  - K = max(16, floor(sqrt(n)))               (adaptive cells)
  - cap = max(64, 8*ceil(n/K)), sub-sharding  (cell-size valve)
  - Σ_blocks C(size,2) with adaptive K + valve (the engine's pair work)
  - the same sum with the OLD fixed K=16       (the r8 'weak' baseline)

    python tools/scaling_semdedup_cells.py [extra_sf_dir ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nzwirelessmap_fetch_spark.operators.similarity import _DDB_COS  # noqa: E402

FIXTURES = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("zipf-sf0.1", os.path.join(REPO, ".skew_fixture")),
    ("sf1-uniform", os.path.join(REPO, ".scaling_sf1")),
    ("sf1-zipf", os.path.join(REPO, ".skew_fixture_sf1")),
]


def probe(path: str, fixed_k: int | None = None) -> tuple[int, int, int, int]:
    con = duckdb.connect()
    t = os.path.join(path, "embeddings.parquet")
    pattern = f"{t}/*.parquet" if os.path.isdir(t) else t
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pattern}')"
    )
    kexpr = (
        str(fixed_k)
        if fixed_k
        else "(SELECT GREATEST(16, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)"
    )
    q = f"""
WITH kparam AS (SELECT {kexpr} AS k),
capparam AS (
  SELECT GREATEST(64, 8 * CAST(CEIL(
    CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) / (SELECT k FROM kparam)) AS BIGINT)) AS cap
),
cents AS (
  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
  WHERE vec_id < (SELECT k FROM kparam)
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_DDB_COS.format(a='e.embedding', b='c.c_emb')} DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
),
cellsz AS (SELECT cell, COUNT(*) AS csz FROM assigned GROUP BY cell),
sharded AS (
  SELECT a.vec_id, a.cell,
         a.vec_id % CAST(CEIL(CAST(s.csz AS DOUBLE) / (SELECT cap FROM capparam)) AS BIGINT) AS sub
  FROM assigned a JOIN cellsz s USING (cell)
),
blocks AS (SELECT cell, sub, COUNT(*) AS b FROM sharded GROUP BY cell, sub)
SELECT (SELECT COUNT(*) FROM embeddings),
       (SELECT k FROM kparam),
       (SELECT MAX(csz) FROM cellsz),
       CAST(SUM(b * (b - 1) / 2) AS BIGINT)
FROM blocks
"""
    return con.execute(q).fetchone()


def main() -> None:
    print("| corpus | n | K | max cell | valved pairs (adaptive K) | pairs at fixed K=16 | n(n-1)/2 |")
    print("|---|---|---|---|---|---|---|")
    for tag, path in FIXTURES + [(p, p) for p in sys.argv[1:]]:
        t = os.path.join(path, "embeddings.parquet")
        if not os.path.exists(t) or (os.path.isdir(t) and not os.listdir(t)):
            continue
        n, k, mx, pairs = probe(path)
        _, _, _, pairs16 = probe(path, fixed_k=16)
        print(
            f"| {tag} | {n} | {k} | {mx} | {pairs:,} | {pairs16:,} "
            f"| {n * (n - 1) // 2:,} |",
            flush=True,
        )


if __name__ == "__main__":
    main()
