"""Similarity search over the ``embeddings`` table (SURVEY.md §2.4).

- sim_topk_bruteforce  exact cosine top-k: the correctness baseline.
  Query set broadcast against the corpus → per-query window top-k. At 100 TB
  the corpus side streams (one scan, no shuffle of the vectors); cost is
  O(|corpus|·|queries|·dim) FLOPs spread across executors.

- sim_lsh_bucketed     the scale path: 8 deterministic random-hyperplane
  sign bits → 256 buckets → candidate pairs only within a bucket → exact
  cosine re-rank. Replaces the O(n²) pair space with bucket-local joins —
  the shuffle is keyed by bucket id. More planes / multi-probe = standard
  knobs; an IVF variant is the same plan shape with learned centroids as
  the bucketer.

- sim_lsh_banded       banded hyperplane LSH (2 bands × 8 planes) with a
  bucket-population valve and exact cosine verification. Its verified
  pair stream and the ranked top-K_NN adjacency over it (``_knn_ranked``)
  are ONE memoized substrate (``functions/memo.py`` family
  ``lsh_banded``): the kNN graph, kNN outliers, greedy and beam graph
  search, submodular selection, pruned MaxSim and the kNN classifier all
  read it, and their oracles share its SQL twin (``_KNN_CTES``).

- sim_ivf              inverted-file ANN: every vector assigned to its
  nearest of K = max(16, ⌊√n⌋) seed centroids, ⌊√K⌋ cells probed per
  query, exact cosine re-rank inside them. The assignment is ONE
  memoized substrate (``_ivf_cells``, family ``ivf_cells``): sim_ivf,
  sim_ivf_pq and corpus_semdedup read it (sim_ivf_recall_eval and
  sim_rrf_fusion through sim_ivf), and their oracles share its SQL twin
  (``_IVF_CTES``). sim_ivf_kmeans trains its own centroids (memo family
  ``ivf_kmeans``, one training per session and corpus) and shares only
  the seed, assignment, probe and re-rank helpers.

Hyperplanes are pseudo-random ±1 vectors derived from an LCG on (plane,
dim) — integer arithmetic, so Spark and the DuckDB oracle build bit-equal
planes without sharing code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.memo import memo, release
from ..functions.vectors import cosine, dot, norm

TOP_K = 10
N_QUERIES = 5  # fixture query set: vec_id < 5
N_PLANES = 8
PAIR_THRESHOLD = 0.35
# Bucket-population valve shared by every LSH entry (flat, multiprobe,
# banded): buckets larger than this are excluded from pair generation,
# bounding each bucket's contribution at ≤ cap² pairs. Deterministic (a
# group count), so the oracles replay it — the capped configuration IS
# the checked one. See the banded-LSH comment below for the full knob
# discussion.
LSH_MAX_BUCKET = 64


# Admission budget for the EXACT top-k measures: the brute-force scan
# scores |corpus| x N_QUERIES pairs — the honest correctness baseline at
# gate SFs and an honest REFUSAL at 100 TB (10^9 vectors x 5 queries =
# 5x10^9 scored pairs per eval run). Since r10 the budget is host-
# derived (functions/admission.py, scale=0.25 — the denser-measure
# ratio the old 5e8/2e9 constants encoded); same env knob as every
# other exact measure; the error names the oracle-checked scale twin
# (r8 verdict directive #2 — the winnowing pre-flight pattern, text.py).


def _topk_exact_admission(e: DataFrame, name: str) -> None:
    """Pre-flight the exact top-k fan-out (one metadata-only count)
    against the budget; refuse with the scale twin named instead of
    launching an over-budget scan."""
    from ..functions.admission import exact_pair_budget
    from .text import ExactMeasureBoundError

    budget = exact_pair_budget(scale=0.25)
    fanout = e.count() * N_QUERIES
    if fanout > budget:
        raise ExactMeasureBoundError(
            f"{name} exact measure scores {fanout:,} query-vector pairs "
            f"> budget {budget:,}; run the oracle-checked scale twin "
            "sim_ivf_kmeans instead, or raise SPARK_GRAFT_EXACT_PAIR_BUDGET "
            "on a cluster sized for the exact scan"
        )


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k of the corpus for each query vector.

    Admission-guarded (``_topk_exact_admission``): tagged
    ``exact_measure`` in the registry with twin ``sim_ivf_kmeans``."""
    e = Catalog(spark, sf_dir).table("embeddings")
    _topk_exact_admission(e, "sim_topk_bruteforce")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", cosine(F.col("q_emb"), F.col("embedding")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cos", "rank")
    )


SIM_TOPK_BRUTEFORCE_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(e.embedding)),
                            i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE)),
           (a, b) -> a + b)
         / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(q.q_emb)),
                              i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)),
             (a, b) -> a + b))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(e.embedding)),
                              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
             (a, b) -> a + b))) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


def _code_expr(bits: int, offset: int = 0) -> F.Column:
    """``bits``-wide random-hyperplane sign code, one pure-SQL expression,
    using planes ``offset .. offset+bits-1`` of the global plane family.

    Plane (j, d) sign = ±1 from an LCG bit:
        bit = ((1103515245*(j*dim + d) + 12345) >> 16) & 1;  sign = 2*bit - 1
    code bit j = [ Σ_d emb[d]·sign(offset+j, d) > 0 ].

    The offset makes the family sliceable into independent BANDS (see
    ``sim_lsh_banded``) without changing any existing plane's identity.
    """
    return F.expr(
        f"""
        aggregate(
          transform(sequence(0, {bits - 1}), j ->
            CASE WHEN aggregate(
                   sequence(0, size(embedding) - 1), CAST(0.0 AS DOUBLE),
                   (acc, d) -> acc + CAST(embedding[d] AS DOUBLE) *
                     (2 * ((shiftright(CAST(1103515245 AS BIGINT) * (({offset} + j) * size(embedding) + d) + 12345, 16)) % 2) - 1)
                 ) > 0
            THEN shiftleft(1, j) ELSE 0 END),
          0, (acc, v) -> acc + v)
        """
    )


def _bucket_expr() -> F.Column:
    """256-way random-hyperplane bucket id (the original 8-plane code)."""
    return _code_expr(N_PLANES)


def sim_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-neighbor pairs via LSH buckets + exact cosine re-rank.

    The flat 256-bucket index carries the same ``LSH_MAX_BUCKET``
    population valve as ``sim_lsh_banded`` (r3 verdict: an unvalved flat
    bucket goes quadratic at O(n/256) per bucket as the corpus grows):
    buckets over the cap are excluded from pair generation, bounding the
    self-join at ≤ cap² pairs per bucket. The valve is a deterministic
    group count, replayed identically by the oracle — at fixture scale
    no bucket exceeds the cap, so results equal the unvalved measure."""
    e = Catalog(spark, sf_dir).table("embeddings")
    # the 8-plane code (a 512-term fold per row) feeds both sides of the
    # self-join — read live, Spark evaluates it twice
    bucketed = e.withColumn("bucket", _bucket_expr().cast("int")).localCheckpoint(eager=True)
    keep = (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= LSH_MAX_BUCKET)
        .select("bucket")
    )
    capped = bucketed.join(keep, "bucket")
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", cosine(F.col("a.embedding"), F.col("b.embedding")))
        .filter(F.col("cos") >= PAIR_THRESHOLD)
    )
    return pairs.select(
        F.col("bucket"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        "cos",
    )


SIM_LSH_BUCKETED_SQL = f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         CAST(list_reduce(list_prepend(0,
           list_transform(generate_series(0, 7), j ->
             CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(generate_series(0, len(embedding) - 1),
                      d -> embedding[d + 1]::DOUBLE *
                           (2 * (((1103515245 * (j * len(embedding) + d) + 12345) >> 16) % 2) - 1))),
                    (a, b) -> a + b) > 0
             THEN (1 << j) ELSE 0 END)),
           (a, b) -> a + b) AS INT) AS bucket
  FROM embeddings
)
, keep AS (
  SELECT bucket FROM bucketed GROUP BY bucket
  HAVING COUNT(*) <= {LSH_MAX_BUCKET}
),
capped AS (SELECT bucketed.* FROM bucketed JOIN keep USING (bucket))
SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(generate_series(1, len(a.embedding)),
                          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
         (x, y) -> x + y)
       / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(a.embedding)),
                            i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)),
           (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(b.embedding)),
                            i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
           (x, y) -> x + y))) AS cos
FROM capped a
JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(generate_series(1, len(a.embedding)),
                          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
         (x, y) -> x + y)
       / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(a.embedding)),
                            i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)),
           (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(b.embedding)),
                            i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
           (x, y) -> x + y))) >= {PAIR_THRESHOLD}
"""


# IVF cell-count floor. K itself is CORPUS-DERIVED (r8 verdict directive
# #1): a fixed K makes every cell hold n/K vectors, so SemDeDup's
# within-cell self-join grows as (n/K)² per cell — quadratic in corpus
# size with K frozen, the same fixed-constant scale bug class as the r7
# winnow cap (WINNOW_MAX_DF=16). K = max(16, ⌊√n⌋) keeps expected cell
# size ≈ √n and total within-cell pair work ≈ K·(n/K)² = n^1.5 —
# sub-quadratic across every decade (growth row in SCALING.md). Probes
# scale as ⌊√K⌋ (the standard IVF nprobe ∝ √K rule) so recall does not
# silently collapse as the cell count grows.
def _emb_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings table with scan parallelism matched to the machine
    (r11, guide §6/§2.5: input-split parallelism for compute-heavy
    scans).

    The fixture tables are single-FILE, single-ROW-GROUP parquet, so a
    scan is ONE effective task no matter how many byte-range splits
    Spark plans (only the split containing the row-group start yields
    rows). The vector family evaluates per-PAIR array folds (dot/norm
    aggregates — interpreted higher-order functions, ~µs each)
    UPSTREAM of its first exchange, so that work serializes on one
    core: measured on the sf1-Zipf fixture (one 5.6 MB file), sim_ivf's
    2.82 M-pair assignment pass took 54.5 s vs 5.4 s on the 10-file
    uniform fixture — same row count, same plan, 10 files vs 1.

    One round-robin repartition of the (small) vector table unlocks the
    other cores. Scale-adaptive, NOT a local[32] constant: the exchange
    is added only when the file's natural split count
    (bytes / maxPartitionBytes) cannot fill defaultParallelism — a
    production multi-GB vector table already scans with more splits
    than cores and takes NO exchange at all.
    """
    return Catalog(spark, sf_dir).table_parallel("embeddings")


IVF_MIN_CELLS = 16
N_PROBE_MIN = 4    # probe floor (the old fixed probe count)


def _adaptive_n_cells(n: int) -> int:
    """Corpus-derived IVF cell count K = max(16, ⌊√n⌋). Uses IEEE double
    sqrt + floor — DuckDB's FLOOR(SQRT(CAST(n AS DOUBLE))) computes the
    identical value for n < 2^53, so the oracle replays K from the same
    COUNT(*) without sharing code."""
    import math

    return max(IVF_MIN_CELLS, int(math.floor(math.sqrt(float(max(n, 0))))))


def _adaptive_n_probe(k: int) -> int:
    """Probed cells per query: max(4, ⌊√K⌋) — nprobe ∝ √K keeps the
    scanned corpus fraction ≈ 1/√K while recall stays roughly flat as
    K grows (the FAISS tuning rule). Same IEEE parity note as
    ``_adaptive_n_cells``."""
    import math

    return max(N_PROBE_MIN, int(math.floor(math.sqrt(float(max(k, 0))))))


def _seed_cents(e: DataFrame, k: int) -> DataFrame:
    """The K seed centroids ``(cell, c_emb)``: the rows ``vec_id < k`` of
    a ``(vec_id, embedding)`` frame. Fixture rows instead of k-means
    iterates, so the DuckDB oracle reproduces the index bit-for-bit."""
    return e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )


def _assign_cells(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment ``(vec_id, cell, embedding)``: cosine
    argmax, ties → smaller cell via the (cos, -cell) struct order.

    Corpus ⨯ broadcast(centroids) → map-side partial ``max_by``, so the
    shuffle carries |corpus| rows, not |corpus|·K. Norms are computed
    once per corpus row and once per centroid, outside the n·K pair
    grain, so each pair pays one array fold (the dot product).
    ``dot/(nrm·c_nrm)`` is the expression tree ``cosine`` evaluates per
    pair (left-fold dot, then the same multiply/divide order), so every
    ccos bit matches the oracle's."""
    return (
        e.withColumn("nrm", norm(F.col("embedding")))
        .crossJoin(F.broadcast(cents.withColumn("c_nrm", norm(F.col("c_emb")))))
        .withColumn(
            "ccos",
            dot(F.col("embedding"), F.col("c_emb"))
            / (F.col("nrm") * F.col("c_nrm")),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cell", F.struct(F.col("ccos"), (-F.col("cell")).alias("nc"))
            ).alias("cell"),
            F.first("embedding").alias("embedding"),
        )
    )


def _ivf_cells(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int, int, int]:
    """The IVF cell substrate ``(assigned, n, K, n_probe)``: every vector
    assigned to its nearest of the K = max(16, ⌊√n⌋) seed centroids
    (``_seed_cents``), with n_probe = max(4, ⌊√K⌋).

    ``assigned`` is an eager localCheckpoint ``(vec_id, cell,
    embedding)`` — the inverted file a production index stores, and a
    natural ``bucketBy(cell)`` layout at rest. Memoized in family
    ``ivf_cells``: ``sim_ivf``, ``sim_ivf_pq``, ``corpus_semdedup`` and,
    through ``sim_ivf``, ``sim_ivf_recall_eval`` and ``sim_rrf_fusion``
    read one build, and a hit runs no Spark job. The count is one
    scalar to the driver; K and n_probe are pure functions of it,
    replayed by the oracle's ``_DDB_IVF_PARAMS``, and the whole frame by
    ``_IVF_CTES``."""

    def build() -> tuple[DataFrame, int, int, int]:
        e = _emb_parallel(spark, sf_dir)
        n = e.count()
        k = _adaptive_n_cells(n)
        assigned = _assign_cells(e, _seed_cents(e, k)).localCheckpoint(eager=True)
        return assigned, n, k, _adaptive_n_probe(k)

    return memo("ivf_cells", spark, sf_dir, (), build)


def _probe_cells(e: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """``(q_id, q_emb, cell)``: for each query (``vec_id < N_QUERIES`` of
    ``e``) the ``n_probe`` cells whose centroids are nearest by cosine,
    ties → smaller cell. Queries ⨯ broadcast(centroids): a
    N_QUERIES·K grain, free next to the corpus side."""
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("pcos"), F.asc("cell"))
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn("pcos", cosine(F.col("q_emb"), F.col("c_emb")))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= n_probe)
        .select("q_id", "q_emb", "cell")
    )


def _ivf_rerank(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """Exact cosine top-{TOP_K} ``(q_id, vec_id, cos, rank)`` over the
    vectors in each query's probed cells: the candidate join is keyed
    by cell (the inverted file) against the broadcast probe rows, ranks
    pinned by (cos DESC, vec_id ASC)."""
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", cosine(F.col("q_emb"), F.col("embedding")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cos", "rank")
    )


def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: assign every vector to its nearest of
    K = max(16, ⌊√n⌋) deterministic centroids, probe the ⌊√K⌋ nearest
    cells per query, exact cosine re-rank inside the probed cells.

    The plan shape IS the scale path of a production IVF index:
    - the assignment is the shared ``_ivf_cells`` substrate, built once
      per session and corpus;
    - the candidate join is keyed by cell id (the "inverted file"), so
      the only large input is the corpus partitioned by cell;
    - K and n_probe are CORPUS-DERIVED (√n / √K — see IVF_MIN_CELLS):
      with K frozen, per-probe scan cost n/K grows linearly in corpus
      size; with K = √n it grows as √n and the probed fraction shrinks.
    Centroids are fixture rows (vec_id < K) instead of k-means iterates
    so the DuckDB oracle reproduces the index bit-for-bit; swapping in
    learned centroids (``sim_ivf_kmeans``) changes numbers, not the
    plan. Queries and centroids are read from the substrate itself."""
    assigned, _n, n_cells, n_probe = _ivf_cells(spark, sf_dir)
    probes = _probe_cells(assigned, _seed_cents(assigned, n_cells), n_probe)
    return _ivf_rerank(assigned, probes)


_DDB_COS = """list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len({a})),
                            i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)),
           (x, y) -> x + y)
         / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len({a})),
                              i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)),
             (x, y) -> x + y))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len({b})),
                              i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)),
             (x, y) -> x + y)))"""

# Oracle twin of the K / n_probe arithmetic in ``_ivf_cells``: both
# derived from COUNT(*) with the same floor/sqrt (IEEE-identical for any
# feasible n).
_DDB_IVF_PARAMS = f"""kparam AS (
  SELECT GREATEST({IVF_MIN_CELLS},
                  CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS k
  FROM embeddings
),
pparam AS (
  SELECT GREATEST({N_PROBE_MIN},
                  CAST(FLOOR(SQRT(CAST(k AS DOUBLE))) AS BIGINT)) AS p
  FROM kparam
)"""


def _ddb_seed_cents(out: str) -> str:
    """DuckDB CTE: the seed centroids ``vec_id < k`` (``_seed_cents``)."""
    return f"""{out} AS (
  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
  WHERE vec_id < (SELECT k FROM kparam)
)"""


def _ddb_assign(cents_cte: str, out: str, src: str = "embeddings") -> str:
    """DuckDB CTE: nearest-centroid assignment of ``src`` against
    ``cents_cte`` (``src='train'`` for the sampled Lloyd iterations;
    the final assignment keeps the full table)."""
    return f"""{out} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_DDB_COS.format(a='e.embedding', b='c.c_emb')} DESC, c.cell ASC) AS rn
    FROM {src} e CROSS JOIN {cents_cte} c) WHERE rn = 1
)"""


def _ddb_probes(cents_cte: str) -> str:
    """DuckDB CTEs ``q`` and ``probes``: the twin of ``_probe_cells``."""
    return f"""q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT q_id, q_emb, cell FROM (
    SELECT q.q_id, q.q_emb, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             {_DDB_COS.format(a='q.q_emb', b='c.c_emb')} DESC, c.cell ASC) AS pr
    FROM q CROSS JOIN {cents_cte} c) WHERE pr <= (SELECT p FROM pparam)
)"""


# The oracle twin of ``_ivf_cells``: K/n_probe, the seed ``cents`` and
# their ``assigned`` frame (vec_id, embedding, cell).
_IVF_CTES = f"""{_DDB_IVF_PARAMS},
{_ddb_seed_cents('cents')},
{_ddb_assign('cents', 'assigned')}"""

# The oracle twin of ``_ivf_rerank``: the CTE tail and final SELECT over
# ``assigned`` and ``probes``.
_DDB_IVF_RERANK = f"""scored AS (
  SELECT p.q_id, a.vec_id,
         {_DDB_COS.format(a='p.q_emb', b='a.embedding')} AS cos
  FROM assigned a JOIN probes p USING (cell)
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""

SIM_IVF_SQL = f"""
WITH {_IVF_CTES},
{_ddb_probes('cents')},
{_DDB_IVF_RERANK}"""


def sim_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul (``mapInPandas``)
    — the vectorized-Python twin of ``sim_topk_bruteforce`` (same oracle).

    Physical shape: the query matrix ships to every task as a plan
    literal (it is top-k's "broadcast side"); each Arrow batch of corpus
    vectors becomes one ``(batch × dim) @ (dim × queries)`` BLAS call, and
    only per-batch candidate scores leave Python. A JVM fold pays
    interpreted per-element cost O(dim) per pair; BLAS amortizes to
    ~one fused multiply-add per element — the winning path once dim×|q|
    is large. Final global top-k is the same one-shuffle window.

    Output pins (q_id, vec_id, rank) but NOT the raw cosine: BLAS uses
    blocked/pairwise accumulation, so its floats differ from the
    determinism-contract fold in the last ulp. Neighbor IDENTITY is
    stable (fixture cosine gaps ≫ 1e-15); the fold-based twin pins the
    exact values."""
    import numpy as np
    import pandas as pd

    e = Catalog(spark, sf_dir).table("embeddings")
    _topk_exact_admission(e, "sim_topk_numpy")
    q_rows = [
        (int(r.q_id), list(r.q_emb))
        for r in e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        .collect()  # N_QUERIES rows — the broadcast side of a top-k, not data
    ]
    q_ids = np.array([i for i, _ in q_rows])
    Q = np.array([v for _, v in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            cos = (M / np.linalg.norm(M, axis=1, keepdims=True)) @ Qn.T
            out = pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].values, len(q_ids)),
                    "q_id": np.tile(q_ids, len(pdf)),
                    "cos": cos.ravel(),
                }
            )
            yield out[out["vec_id"] != out["q_id"]]

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, "vec_id long, q_id long, cos double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank")
    )


SIM_TOPK_NUMPY_SQL = f"""
SELECT q_id, vec_id, CAST(rank AS INT) AS rank
FROM ({SIM_TOPK_BRUTEFORCE_SQL})
"""


def sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: like ``sim_lsh_bucketed`` but each vector ALSO
    probes the 8 buckets at Hamming distance 1 from its own code, so pairs
    whose codes disagree on exactly one hyperplane are recovered —
    the standard recall knob that multiplies probe cost ×(planes+1)
    instead of growing the index.

    Plan shape: probe side = corpus exploded to 9 keys (own code + 8
    single-bit flips); index side = corpus at its own code. The join stays
    keyed by bucket (probe fan-out is a map-side explode, not a shuffle
    multiplier of the index), dedupe by pair, then the same exact-cosine
    verification. Probing is directional (a-probes meet b-home), which
    covers Hamming-1 symmetrically without double fan-out.

    The INDEX side carries the ``LSH_MAX_BUCKET`` valve (overfull home
    buckets are skipped, exactly how a production index drops overfull
    postings): each probe row then meets ≤ cap index rows, so total
    candidates are ≤ 9·n·cap — linear in the corpus. Deterministic and
    replayed by the oracle; at fixture scale no bucket exceeds the cap."""
    e = Catalog(spark, sf_dir).table("embeddings")
    # home codes feed the probe fan-out AND the index side
    home = e.withColumn("bucket", _bucket_expr().cast("int")).localCheckpoint(eager=True)
    keep = (
        home.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= LSH_MAX_BUCKET)
        .select("bucket")
    )
    index_side = home.join(keep, "bucket")
    probes = home.select(
        "vec_id",
        "embedding",
        F.explode(
            F.expr(
                f"array_union(array(bucket), transform(sequence(0, {N_PLANES - 1}),"
                " j -> CAST(bucket ^ shiftleft(1, j) AS INT)))"
            )
        ).alias("bucket"),
    )
    a = probes.alias("a")
    b = index_side.alias("b")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
        .withColumn("cos", cosine(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos") >= PAIR_THRESHOLD)
    )
    return pairs.select("vec_a", "vec_b", "cos")


SIM_LSH_MULTIPROBE_SQL = f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         CAST(list_reduce(list_prepend(0,
           list_transform(generate_series(0, 7), j ->
             CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(generate_series(0, len(embedding) - 1),
                      d -> embedding[d + 1]::DOUBLE *
                           (2 * (((1103515245 * (j * len(embedding) + d) + 12345) >> 16) % 2) - 1))),
                    (a, b) -> a + b) > 0
             THEN (1 << j) ELSE 0 END)),
           (a, b) -> a + b) AS INT) AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id, embedding,
         unnest(list_distinct(list_prepend(bucket,
           list_transform(generate_series(0, {N_PLANES - 1}),
                          j -> CAST(xor(bucket, 1 << j) AS INT))))) AS bucket
  FROM bucketed
),
keep AS (
  SELECT bucket FROM bucketed GROUP BY bucket
  HAVING COUNT(*) <= {LSH_MAX_BUCKET}
),
index_side AS (SELECT bucketed.* FROM bucketed JOIN keep USING (bucket)),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM probes a JOIN index_side b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(generate_series(1, len(ea.embedding)),
                          i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)),
         (x, y) -> x + y)
       / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(ea.embedding)),
                            i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE)),
           (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(eb.embedding)),
                            i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)),
           (x, y) -> x + y))) AS cos
FROM cand
JOIN embeddings ea ON ea.vec_id = vec_a
JOIN embeddings eb ON eb.vec_id = vec_b
WHERE list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(generate_series(1, len(ea.embedding)),
                          i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)),
         (x, y) -> x + y)
       / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(ea.embedding)),
                            i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE)),
           (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(eb.embedding)),
                            i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)),
           (x, y) -> x + y))) >= {PAIR_THRESHOLD}
"""


# Banded hyperplane LSH: b bands × r bits per band (16 planes total here).
# This is the scale-safe replacement for the single flat code: a flat
# 8-plane index has 256 buckets FOREVER, so bucket sizes grow O(n/256) and
# the within-bucket join goes quadratic as the corpus grows. Banding
# decouples the two knobs — r (bits per band) grows with log2(n / target
# bucket size) to keep expected bucket population CONSTANT, while b (bands)
# sets recall (collision prob 1-(1-p^r)^b for per-plane agreement p) —
# the exact shape dedup_minhash_lsh already uses for set similarity.
LSH_BANDS = 2
LSH_BAND_BITS = 8
# LSH_MAX_BUCKET (defined with the module constants above) is the
# bucket-population valve: buckets larger than the cap are excluded from
# pair generation. Bounded cost (≤ cap² pairs per bucket) for a
# documented recall trade on skew-clustered corpora — raising r thins
# RANDOM collisions but cannot thin a tight cluster sharing every sign
# bit, so the valve is the load-bearing guard at 100 TB.


def sim_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-neighbor pairs (vec_a < vec_b, cos), memoized as an eager
    localCheckpoint in the ``lsh_banded`` family: the verified pair
    stream every graph-ANN consumer reads (see ``_build_lsh_banded``)."""
    return memo(
        "lsh_banded", spark, sf_dir, "pairs", lambda: _build_lsh_banded(spark, sf_dir)
    )


def _build_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-neighbor pairs via BANDED hyperplane LSH + exact cosine
    re-rank: candidates are pairs agreeing on ALL bits of at least one
    band; each band is an independent 8-plane code (planes 0-7, 8-15).

    Plan shape: corpus → b band codes per row (pure map) → unpivot to
    (band, code) — IDS ONLY, the 64-float payload never rides through
    pair generation — → bucket-size valve (one count per occupied
    bucket, semi-joined back — drops buckets over LSH_MAX_BUCKET
    members BEFORE the self-join, so no bucket can go quadratic) →
    self-equi-join keyed by (band, code) → pair-distinct → embeddings
    re-attached by two keyed joins for exact verification (the n-gram
    Jaccard verify shape: at 100 TB the vector table is corpus-sized, so
    shuffling the small id-pair stream to the vectors beats dragging
    payloads through the join+distinct). The join key space is b·2^r and
    grows with the plane budget — raise r with log(n) against random
    collisions, and the valve bounds the adversarial/clustered case r
    cannot reach; the plan is untouched by either knob."""
    e = Catalog(spark, sf_dir).table("embeddings")
    coded = e.select(
        "vec_id",
        *[
            _code_expr(LSH_BAND_BITS, k * LSH_BAND_BITS).cast("int").alias(f"c{k}")
            for k in range(LSH_BANDS)
        ],
    )
    stack_args = ", ".join(f"{k}, c{k}" for k in range(LSH_BANDS))
    bands = coded.selectExpr(
        "vec_id", f"stack({LSH_BANDS}, {stack_args}) AS (band, code)"
    )
    # persist: the banded codes feed the valve count AND both self-join
    # sides — three consumers of a 1024-term fold per row; released once
    # the pair checkpoint has materialized
    bands = bands.persist()
    try:
        keep = (
            bands.groupBy("band", "code")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= LSH_MAX_BUCKET)
            .select("band", "code")
        )
        kept = bands.join(keep, ["band", "code"])
        a, b = kept.alias("a"), kept.alias("b")
        cand = (
            a.join(b, ["band", "code"])
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
            )
            .dropDuplicates(["vec_a", "vec_b"])
        )
        ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
        eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
        return (
            cand.join(ea, "vec_a")
            .join(eb, "vec_b")
            .withColumn("cos", cosine(F.col("emb_a"), F.col("emb_b")))
            .filter(F.col("cos") >= PAIR_THRESHOLD)
            .select("vec_a", "vec_b", "cos")
            .localCheckpoint(eager=True)
        )
    finally:
        bands.unpersist()


def _ddb_code(bits: int, offset: int) -> str:
    """DuckDB twin of ``_code_expr`` (same LCG planes, same bit packing)."""
    return f"""CAST(list_reduce(list_prepend(0,
           list_transform(generate_series(0, {bits - 1}), j ->
             CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(generate_series(0, len(embedding) - 1),
                      d -> embedding[d + 1]::DOUBLE *
                           (2 * (((1103515245 * (({offset} + j) * len(embedding) + d) + 12345) >> 16) % 2) - 1))),
                    (a, b) -> a + b) > 0
             THEN (1 << j) ELSE 0 END)),
           (a, b) -> a + b) AS INT)"""


# CTE prefix shared by every oracle that reads the verified banded-LSH
# pair stream (``_KNN_CTES`` extends it with the ranked adjacency).
_BANDED_CTES = f"""coded AS (
  SELECT vec_id, embedding,
         {_ddb_code(LSH_BAND_BITS, 0)} AS c0,
         {_ddb_code(LSH_BAND_BITS, LSH_BAND_BITS)} AS c1
  FROM embeddings
),
bands_all AS (
  SELECT vec_id, embedding, 0 AS band, c0 AS code FROM coded
  UNION ALL
  SELECT vec_id, embedding, 1 AS band, c1 AS code FROM coded
),
kept AS (
  SELECT band, code FROM bands_all
  GROUP BY band, code HAVING COUNT(*) <= {LSH_MAX_BUCKET}
),
bands AS (
  SELECT b.* FROM bands_all b JOIN kept USING (band, code)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
),
banded_pairs AS (
  SELECT vec_a, vec_b,
         {_DDB_COS.format(a='ea.embedding', b='eb.embedding')} AS cos
  FROM cand
  JOIN embeddings ea ON ea.vec_id = vec_a
  JOIN embeddings eb ON eb.vec_id = vec_b
  WHERE {_DDB_COS.format(a='ea.embedding', b='eb.embedding')} >= {PAIR_THRESHOLD}
)"""

SIM_LSH_BANDED_SQL = f"""
WITH {_BANDED_CTES}
SELECT vec_a, vec_b, cos FROM banded_pairs
"""


K_NN = 5


def _symmetric(pairs: DataFrame) -> DataFrame:
    """(a, b, cos) in both directions of every (vec_a, vec_b, cos) pair."""
    return pairs.select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b"), "cos"
    ).union(pairs.select(F.col("vec_b").alias("a"), F.col("vec_a").alias("b"), "cos"))


def _knn_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed top-{K_NN} adjacency (a, b, cos, rk INT) over the
    symmetrized verified pairs: one window exchange keyed by source node,
    ranks pinned by (cos DESC, b ASC). (a, b) rows are unique because the
    pair stream is. Memoized as an eager localCheckpoint next to the pair
    stream in the ``lsh_banded`` family, so both are evicted together."""

    def build() -> DataFrame:
        w = Window.partitionBy("a").orderBy(F.desc("cos"), F.asc("b"))
        return (
            _symmetric(sim_lsh_banded(spark, sf_dir))
            .withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= K_NN)
            .localCheckpoint(eager=True)
        )

    return memo("lsh_banded", spark, sf_dir, "knn", build)


# The oracle twin of ``_knn_ranked``: ``sym`` and ``knn`` after the pair CTEs.
_KNN_CTES = f"""{_BANDED_CTES},
sym AS (
  SELECT vec_a AS a, vec_b AS b, cos FROM banded_pairs
  UNION ALL
  SELECT vec_b AS a, vec_a AS b, cos FROM banded_pairs
),
knn AS (
  SELECT a, b, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS INT) AS rk
  FROM sym
  QUALIFY rk <= {K_NN}
)"""


def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction (§2.4 similarity substrate): edges
    (a, b) where each endpoint ranks the other within its top-{K_NN}
    cosine neighbors — the standard graph substrate for embedding-space
    clustering, diversity filtering, and label propagation (mutual-kNN
    prunes hub nodes' asymmetric edges, which plain kNN graphs keep).

    Built on the shared ranked adjacency ``_knn_ranked`` (approximate
    kNN — the production shape: exact all-pairs kNN is O(n²) at corpus
    scale while candidates here come from bucket-local joins): the
    mutuality check is a self-equi-join on the REVERSED (a, b) key —
    edge-stream-sized, never touching the vectors again. Ranks pin ties
    by (cos DESC, neighbor id)."""
    knn = _knn_ranked(spark, sf_dir)
    x, y = knn.alias("x"), knn.alias("y")
    return (
        x.join(y, (F.col("x.a") == F.col("y.b")) & (F.col("x.b") == F.col("y.a")))
        .filter(F.col("x.a") < F.col("x.b"))
        .select(
            F.col("x.a").alias("vec_a"),
            F.col("x.b").alias("vec_b"),
            F.col("x.cos").alias("cos"),
            F.col("x.rk").alias("rank_ab"),
            F.col("y.rk").alias("rank_ba"),
        )
    )


SIM_KNN_GRAPH_SQL = f"""
WITH {_KNN_CTES}
SELECT x.a AS vec_a, x.b AS vec_b, x.cos AS cos,
       x.rk AS rank_ab, y.rk AS rank_ba
FROM knn x JOIN knn y ON x.a = y.b AND x.b = y.a
WHERE x.a < x.b
"""


KMEANS_ITERATIONS = 2

# Lloyd TRAINING runs on a deterministic sample (r9 verdict directive
# #3 — the docstring's own "real deployments train on a sample" is now
# the implementation): training on the full corpus costs n·K per
# iteration, which with K = √n is n^1.5 — the very law the adaptive K
# exists to keep OUT of the query path, paid at build time instead.
# Sampling ~KMEANS_TRAIN_PER_CELL points per centroid caps training at
# c·K² = c·n — LINEAR in corpus size (FAISS trains on 10⁴–10⁶ sampled
# points for exactly this reason). The slice is content-keyed on
# vec_id via a Knuth multiplicative mix (NOT `vec_id % stride`, which
# would alias any id-correlated data layout): keep vec_id iff
# ((vec_id·2654435761) mod 2³²) mod stride = 0, stride = n // (K·c).
# Pure 64-bit integer arithmetic, so the DuckDB oracle replays the
# identical slice from its own COUNT(*) (sparam/train CTEs below).
# ASSIGNMENT stays full-corpus — only training samples.
KMEANS_TRAIN_PER_CELL = 16
_TRAIN_MIX = 2654435761  # Knuth's multiplicative hash constant
_TRAIN_MOD = 4294967296  # 2^32


def _train_stride(n: int, k: int) -> int:
    return max(1, n // (k * KMEANS_TRAIN_PER_CELL))


def _update_centroids(assigned: DataFrame) -> DataFrame:
    """Per-cell element-wise mean, decimal-exact: each component sums in
    DECIMAL(20,10) (order-independent) and divides once in double
    (correctly rounded) — the only way both engines' Lloyd iterations
    stay bit-identical."""
    comp = (
        assigned.select("cell", F.posexplode("embedding").alias("d", "val"))
        .groupBy("cell", "d")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    return (
        comp.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("s"))
        .select("cell", F.expr("transform(s, x -> x.m)").alias("c_emb"))
    )


def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with LEARNED centroids: 2 deterministic Lloyd iterations
    (seeds = embeddings of vec_id < K, cosine assignment, decimal-exact
    means) before the same probe/re-rank as ``sim_ivf``. K and n_probe
    are corpus-derived (√n / √K — see IVF_MIN_CELLS): training more
    cells as the corpus grows is exactly what a production IVF build
    does (FAISS's K ≈ √n guideline).

    Plan per iteration: TRAINING SAMPLE ⨯ broadcast(K centroids) →
    partial max_by (shuffle |sample|) → posexplode + hash-agg for the
    K×dim means (shuffle K·dim rows) — the standard distributed Lloyd
    step, run on a deterministic ~KMEANS_TRAIN_PER_CELL·K content-keyed
    sample (r9 verdict directive #3; see the constant's comment for the
    cost law and the oracle-replayable slice arithmetic). The FINAL
    assignment and the query probes use the full corpus. Learned cells
    track data density, so probe recall at equal n_probe beats the
    fixed-seed variant on clustered corpora. The trained centroids are
    this entry's own, so it does not read the ``_ivf_cells`` substrate;
    it shares the seed, assignment, probe and re-rank helpers.

    The trained centroids and n_probe are memoized per corpus in family
    ``ivf_kmeans``: a second call in one session trains nothing and runs
    no Spark job."""

    def train() -> tuple[DataFrame, int]:
        e = _emb_parallel(spark, sf_dir)
        n = e.count()
        n_cells = _adaptive_n_cells(n)
        stride = _train_stride(n, n_cells)
        sample = e if stride == 1 else e.filter(
            ((F.col("vec_id") * F.lit(_TRAIN_MIX)) % F.lit(_TRAIN_MOD))
            % F.lit(stride)
            == 0
        )
        cents = _seed_cents(e, n_cells)
        for _ in range(KMEANS_ITERATIONS):
            cents = _update_centroids(_assign_cells(sample, cents))
        # the trained K-row centroid table is consumed by the final
        # assignment AND the query-probe ranking — read live, each
        # consumer would re-run both Lloyd iterations
        return cents.localCheckpoint(eager=True), _adaptive_n_probe(n_cells)

    cents, n_probe = memo("ivf_kmeans", spark, sf_dir, (), train)
    e = _emb_parallel(spark, sf_dir)
    return _ivf_rerank(_assign_cells(e, cents), _probe_cells(e, cents, n_probe))


def _ddb_update(assigned_cte: str, out: str) -> str:
    """DuckDB CTE: decimal-exact per-cell element-wise centroid means."""
    return f"""{out}_comp AS (
  SELECT a.cell, t.d,
         CAST(SUM(CAST(a.embedding[t.d + 1] AS DECIMAL(20,10))) AS DOUBLE)
           / COUNT(*) AS m
  FROM {assigned_cte} a, generate_series(0, 63) t(d)
  GROUP BY a.cell, t.d
),
{out} AS (
  SELECT cell, list(m ORDER BY d) AS c_emb FROM {out}_comp GROUP BY cell
)"""


SIM_IVF_KMEANS_SQL = f"""
WITH {_DDB_IVF_PARAMS},
sparam AS (
  SELECT GREATEST(1, COUNT(*) // ((SELECT k FROM kparam)
                                  * {KMEANS_TRAIN_PER_CELL})) AS s
  FROM embeddings
),
train AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE ((vec_id * {_TRAIN_MIX}) % {_TRAIN_MOD})
        % (SELECT s FROM sparam) = 0
),
{_ddb_seed_cents('cents0')},
{_ddb_assign('cents0', 'assign1', src='train')},
{_ddb_update('assign1', 'cents1')},
{_ddb_assign('cents1', 'assign2', src='train')},
{_ddb_update('assign2', 'cents2')},
{_ddb_assign('cents2', 'assigned')},
{_ddb_probes('cents2')},
{_DDB_IVF_RERANK}"""


RANGE_TAU = 0.30  # cosine radius for range search


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range (radius) search: every corpus vector within
    cosine ≥ τ of each query (§2.4 similarity — the threshold twin of
    top-k, used for "find ALL near-neighbors" retrieval and recall
    audits where k is unknowable up front).

    Cheaper than top-k at scale: the corpus streams once against the
    broadcast query set and the τ-filter is a row-local predicate — NO
    window, NO shuffle, nothing but a scan with a fused projection, so
    the plan is embarrassingly parallel at any corpus size. (Top-k needs
    the per-query rank exchange; range search doesn't.)
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", cosine(F.col("q_emb"), F.col("embedding")))
        .filter(F.col("cos") >= RANGE_TAU)
        .select("q_id", "vec_id", "cos")
    )


SIM_RANGE_SEARCH_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(e.embedding)),
                            i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE)),
           (a, b) -> a + b)
         / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(q.q_emb)),
                              i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)),
             (a, b) -> a + b))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(e.embedding)),
                              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
             (a, b) -> a + b))) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, cos FROM scored WHERE cos >= {RANGE_TAU}
"""


# Product quantization (§2.4 ANN, the compressed-domain scan): M subspaces
# × K codewords. At fixture scale the codebook is the K seed subvectors
# (vec_id < K); at 100 TB you train each subspace codebook with the
# sim_ivf_kmeans Lloyd recipe on a sample — the plan below is unchanged,
# only the codebook row's contents differ.
PQ_M = 8        # subspaces
PQ_SUBDIM = 8   # dims per subspace (64-dim embeddings)
PQ_K = 16       # codewords per subspace → 4-bit codes, 8 codes/vector


def _pq_sqdist(vec_col: str, m_var: str, k_var: str) -> str:
    """Spark SQL fragment: squared L2 between subvector ``m`` of
    ``vec_col`` and codebook entry ``cb[m][k]`` — a left fold in dim
    order, the same associativity the DuckDB oracle replays."""
    x = f"CAST(element_at({vec_col}, {m_var}*{PQ_SUBDIM} + d + 1) AS DOUBLE)"
    c = f"element_at(element_at(element_at(cb, {m_var}+1), {k_var}+1), d+1)"
    return (
        f"aggregate(sequence(0, {PQ_SUBDIM - 1}), CAST(0.0 AS DOUBLE), "
        f"(acc, d) -> acc + ({x} - {c}) * ({x} - {c}))"
    )


def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization with asymmetric distance computation
    (ADC) — the compressed-domain scan from Jégou et al., "Product
    Quantization for Nearest Neighbor Search" (TPAMI 2011).

    Offline path (here, inline): the 64-dim space splits into M=8
    subspaces; each subspace gets a K=16-codeword codebook; every corpus
    vector is encoded as 8 argmin codes (4 bits each) — 32× smaller than
    the raw floats. Query path: per query, an M×K lookup table of exact
    subspace distances to every codeword; a corpus row's approximate
    distance is then M table adds — no per-dimension float math against
    the corpus at all.

    Plan shape (the part that matters at 100 TB):
    - the codebook is ONE broadcast row (K seed rows folded into a nested
      array via collect_list — kilobytes, never grows with the corpus);
    - encode is a zero-shuffle map over the corpus scan (broadcast
      nested-loop join against the 1-row codebook, then a pure
      projection). In production the codes are written at rest
      (8 bytes/vector vs 256), so the ANN scan reads 32× less;
    - the ADC scan is again map-only: corpus codes × broadcast(5 queries
      + their LUTs) → fold-add → per-query top-k window (the only
      exchange, keyed by q_id, same as sim_topk_bruteforce).

    Determinism contract: subspace distances are left folds in dim
    order; the ADC sum is a left fold in subspace order; argmin
    tie-breaks to the smallest codeword index — each replayed exactly by
    the DuckDB oracle, so ranks AND the double-valued distances
    hash-match.
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    seeds = e.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), F.col("embedding").alias("cemb")
    )
    # cb[m][k][d]: K seed rows → one nested-array row (k ordered by vec_id)
    cb_row = (
        seeds.agg(F.array_sort(F.collect_list(F.struct("k", "cemb"))).alias("s"))
        .select(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> "
                f"  transform(s, x -> "
                f"    transform(sequence(0, {PQ_SUBDIM - 1}), d -> "
                f"      CAST(element_at(x.cemb, m*{PQ_SUBDIM} + d + 1) AS DOUBLE))))"
            ).alias("cb")
        )
    )

    # encode: argmin codeword per subspace (first-occurrence = smallest k)
    dists = f"transform(sequence(0, {PQ_K - 1}), k -> {_pq_sqdist('embedding', 'm', 'k')})"
    codes_expr = (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"  CAST(element_at(transform(array({dists}), "
        f"    ds -> array_position(ds, array_min(ds))), 1) - 1 AS INT))"
    )
    corpus = (
        e.crossJoin(F.broadcast(cb_row))
        .select("vec_id", F.expr(codes_expr).alias("codes"))
    )

    # queries: exact per-codeword LUT, lut[m][k]
    lut_expr = (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"  transform(sequence(0, {PQ_K - 1}), k -> {_pq_sqdist('q_emb', 'm', 'k')}))"
    )
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(F.broadcast(cb_row))
        .select("q_id", F.expr(lut_expr).alias("lut"))
    )

    adist_expr = (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0.0 AS DOUBLE), "
        f"(acc, m) -> acc + element_at(element_at(lut, m+1), "
        f"element_at(codes, m+1) + 1))"
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("adist", F.expr(adist_expr))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "adist", "rank")
    )


def _ddb_pq_sqdist(vec: str, m: str, cvec: str) -> str:
    """DuckDB twin of ``_pq_sqdist``: same subvector slice, same fold."""
    x = f"{vec}[{m}*{PQ_SUBDIM} + d + 1]::DOUBLE"
    c = f"{cvec}[{m}*{PQ_SUBDIM} + d + 1]::DOUBLE"
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(0, {PQ_SUBDIM}), d -> ({x} - {c}) * ({x} - {c}))), "
        f"(a, b) -> a + b)"
    )


SIM_PQ_ADC_SQL = f"""
WITH seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, embedding AS cemb
  FROM embeddings WHERE vec_id < {PQ_K}
),
sub AS (
  SELECT vec_id, embedding, unnest(range(0, {PQ_M})) AS m FROM embeddings
),
dist AS (
  SELECT s.vec_id, s.m, sd.k,
         {_ddb_pq_sqdist('s.embedding', 's.m', 'sd.cemb')} AS dd
  FROM sub s CROSS JOIN seeds sd
),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dd ASC, k ASC) AS rn
    FROM dist) WHERE rn = 1
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
lut AS (
  SELECT q.q_id, cs.m, cs.k,
         {_ddb_pq_sqdist('q.q_emb', 'cs.m', 'cs.cemb')} AS dd
  FROM q CROSS JOIN (
    SELECT k, cemb, unnest(range(0, {PQ_M})) AS m FROM seeds) cs
),
adc AS (
  SELECT l.q_id, c.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(l.dd ORDER BY c.m)),
                     (a, b) -> a + b) AS adist
  FROM codes c JOIN lut l ON l.m = c.m AND l.k = c.code
  GROUP BY l.q_id, c.vec_id
)
SELECT q_id, vec_id, adist, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM adc WHERE vec_id <> q_id)
WHERE rank <= {TOP_K}
"""


MRL_PREFIX_DIM = 8
MRL_K = 10


def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval audit (§2.4 similarity meta-tooling
    — the Matryoshka/MRL question): if retrieval ran on only the first
    {MRL_PREFIX_DIM} dimensions (a {MRL_PREFIX_DIM}/dim storage+FLOP
    cut), how much of the full-dimension top-{MRL_K} survives? Reports
    per-query overlap@k between the full-cosine and prefix-cosine
    rankings — the evaluation run before committing to truncated
    embeddings at serving time.

    Plan: ONE corpus scan computes both scores per (query, vector) pair
    (queries broadcast); both rank windows ride the SAME q_id exchange
    (Catalyst reuses the sort), and the overlap count aggregates on the
    aggregated k-row stream. Ties pinned by vec_id on both rankings."""
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.slice(F.col("embedding"), 1, MRL_PREFIX_DIM).alias("q_pre"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_full"),
            cosine(
                F.col("q_pre"), F.slice(F.col("embedding"), 1, MRL_PREFIX_DIM)
            ).alias("cos_pre"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    wp = Window.partitionBy("q_id").orderBy(F.desc("cos_pre"), F.asc("vec_id"))
    ranked = scored.select(
        "q_id",
        "vec_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wp).alias("r_pre"),
    )
    return ranked.groupBy("q_id").agg(
        F.sum(
            F.when((F.col("r_full") <= MRL_K) & (F.col("r_pre") <= MRL_K), 1).otherwise(
                0
            )
        ).alias("n_overlap"),
        F.lit(MRL_K).alias("k"),
    )


SIM_MATRYOSHKA_PREFIX_RECALL_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb,
         embedding[1:{MRL_PREFIX_DIM}] AS q_pre
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id,
         {_DDB_COS.format(a='q.q_emb', b='e.embedding')} AS cos_full,
         {_DDB_COS.format(a='q.q_pre', b=f'e.embedding[1:{MRL_PREFIX_DIM}]')} AS cos_pre
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_full DESC, vec_id ASC) AS r_full,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_pre DESC, vec_id ASC) AS r_pre
  FROM scored
)
SELECT q_id,
       CAST(SUM(CASE WHEN r_full <= {MRL_K} AND r_pre <= {MRL_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       {MRL_K} AS k
FROM ranked
GROUP BY q_id
"""


def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the production ANN layout (Jégou et al. TPAMI 2011, the
    FAISS ``IVFx,PQy`` index) composed from the two audited halves: the
    inverted file (sim_ivf) bounds WHICH vectors are scanned per query
    (n_probe of K corpus-derived cells), and product-quantization ADC (sim_pq_adc)
    bounds WHAT the scan reads per vector (M 4-bit codes + LUT adds, no
    float vector math). At rest this is codes bucketed by cell: a query
    touches probe_cells/num_cells of the corpus AND 32× fewer bytes per
    touched row — the two multiplicative savings every production
    deployment stacks.

    Plan: assignment and encode are the audited map-side shapes (both
    against broadcast rows); the candidate join is keyed by cell
    (the inverted file); the ADC fold and the per-query top-k window
    (the one q_id exchange) are unchanged from sim_pq_adc. Determinism:
    same pinned folds/tie-breaks as the parents, so the oracle
    hash-matches distances, not just ranks. K and n_probe are
    corpus-derived (√n / √K — see IVF_MIN_CELLS); the cell assignment
    is the shared ``_ivf_cells`` substrate, which also supplies the
    query, centroid and codebook-seed rows."""
    assigned, _n, n_cells, n_probe = _ivf_cells(spark, sf_dir)
    seeds = assigned.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), F.col("embedding").alias("cemb")
    )
    cb_row = (
        seeds.agg(F.array_sort(F.collect_list(F.struct("k", "cemb"))).alias("s"))
        .select(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> "
                f"  transform(s, x -> "
                f"    transform(sequence(0, {PQ_SUBDIM - 1}), d -> "
                f"      CAST(element_at(x.cemb, m*{PQ_SUBDIM} + d + 1) AS DOUBLE))))"
            ).alias("cb")
        )
    )
    dists = f"transform(sequence(0, {PQ_K - 1}), k -> {_pq_sqdist('embedding', 'm', 'k')})"
    codes_expr = (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"  CAST(element_at(transform(array({dists}), "
        f"    ds -> array_position(ds, array_min(ds))), 1) - 1 AS INT))"
    )
    corpus = (
        assigned.crossJoin(F.broadcast(cb_row))
        .select("vec_id", "cell", F.expr(codes_expr).alias("codes"))
    )
    probes = _probe_cells(assigned, _seed_cents(assigned, n_cells), n_probe)
    lut_expr = (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"  transform(sequence(0, {PQ_K - 1}), k -> {_pq_sqdist('q_emb', 'm', 'k')}))"
    )
    probes_lut = (
        probes.crossJoin(F.broadcast(cb_row))
        .select("q_id", "cell", F.expr(lut_expr).alias("lut"))
    )
    adist_expr = (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0.0 AS DOUBLE), "
        f"(acc, m) -> acc + element_at(element_at(lut, m+1), "
        f"element_at(codes, m+1) + 1))"
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        corpus.join(F.broadcast(probes_lut), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("adist", F.expr(adist_expr))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "adist", "rank")
    )


SIM_IVF_PQ_SQL = f"""
WITH {_IVF_CTES},
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, embedding AS cemb
  FROM embeddings WHERE vec_id < {PQ_K}
),
sub AS (
  SELECT vec_id, embedding, unnest(range(0, {PQ_M})) AS m FROM embeddings
),
dist AS (
  SELECT s.vec_id, s.m, sd.k,
         {_ddb_pq_sqdist('s.embedding', 's.m', 'sd.cemb')} AS dd
  FROM sub s CROSS JOIN seeds sd
),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dd ASC, k ASC) AS rn
    FROM dist) WHERE rn = 1
),
{_ddb_probes('cents')},
lut AS (
  SELECT q.q_id, cs.m, cs.k,
         {_ddb_pq_sqdist('q.q_emb', 'cs.m', 'cs.cemb')} AS dd
  FROM q CROSS JOIN (
    SELECT k, cemb, unnest(range(0, {PQ_M})) AS m FROM seeds) cs
),
adc AS (
  SELECT p.q_id, c.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(l.dd ORDER BY c.m)),
                     (a, b) -> a + b) AS adist
  FROM codes c
  JOIN assigned a ON a.vec_id = c.vec_id
  JOIN probes p ON p.cell = a.cell
  JOIN lut l ON l.q_id = p.q_id AND l.m = c.m AND l.k = c.code
  WHERE c.vec_id <> p.q_id
  GROUP BY p.q_id, c.vec_id
)
SELECT q_id, vec_id, adist, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM adc)
WHERE rank <= {TOP_K}
"""


# ─── Binary (sign) quantization + Hamming scan + exact rerank ──────────────

HAM_CANDIDATES = 40  # Hamming-scan shortlist size per query (then exact rerank)


def _sign_code_expr(half: int) -> F.Column:
    """Bits ``32*half .. 32*half+31`` of the 64-bit sign code, packed into
    a BIGINT (two halves so neither engine touches the int64 sign bit).
    Bit d is set iff ``embedding[32*half + d] > 0``."""
    base = 32 * half
    return F.expr(
        f"""
        aggregate(sequence(0, 31), CAST(0 AS BIGINT),
          (acc, d) -> acc + IF(embedding[d + {base}] > 0,
                               shiftleft(CAST(1 AS BIGINT), d),
                               CAST(0 AS BIGINT)))
        """
    )


def sim_binary_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN (§2.4 similarity): pack each 64-dim embedding
    into a 64-bit sign code (1 bit/dim — a 32× compression of float32),
    scan the corpus by Hamming distance XOR/popcount against each query
    code, shortlist the top-{HAM_CANDIDATES}, then rerank the shortlist
    by EXACT cosine for the final top-k. This is the binary-quantization
    retrieval layout (sign codes at rest, floats touched only for the
    shortlist) used when the float corpus no longer fits hot storage.

    Plan: code packing is one scan-bound fold (whole-stage codegen, no
    shuffle); the Hamming scan is integer XOR + bit_count against the
    broadcast 5-query code table — JVM-side, SIMD-friendly, no floats;
    only |queries|·{HAM_CANDIDATES} rows reach the float rerank. At
    100 TB the 16-byte code column is stored as its own compact table
    (the corpus scan reads 2 BIGINTs, never the vectors) and the rerank
    fetches vectors by key from the bucketed embedding table — here the
    vectors ride along because the fixture corpus is one scan anyway.

    Hamming ties at the shortlist boundary and cosine ties in the final
    rank are pinned by vec_id so both engines cut identical sets."""
    # r11: parallel scan — the sign-code folds and the n·|q| Hamming
    # scan run upstream of the first exchange (see _emb_parallel)
    e = _emb_parallel(spark, sf_dir)
    coded = e.select(
        "vec_id",
        "embedding",
        _sign_code_expr(0).alias("c0"),
        _sign_code_expr(1).alias("c1"),
    )
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("c0").alias("q0"),
        F.col("c1").alias("q1"),
    )
    scored = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("c0").bitwiseXOR(F.col("q0")))
                + F.bit_count(F.col("c1").bitwiseXOR(F.col("q1")))
            ).cast("int"),
        )
    )
    wh = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    cand = scored.withColumn("hrank", F.row_number().over(wh)).filter(
        F.col("hrank") <= HAM_CANDIDATES
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("cos", cosine(F.col("q_emb"), F.col("embedding")))
        .withColumn("rank", F.row_number().over(wk).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "hamming", "cos", "rank")
    )


def _ddb_cos(a: str, b: str) -> str:
    """DuckDB exact-cosine expression between two list columns — the
    identical ascending-index fold as SIM_TOPK_BRUTEFORCE_SQL (IEEE tree
    pinned on both sides)."""
    return f"""
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len({b})),
                            i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)),
           (x, y) -> x + y)
         / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len({a})),
                              i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)),
             (x, y) -> x + y))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len({b})),
                              i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)),
             (x, y) -> x + y)))"""


def _ddb_sign_code(half: int) -> str:
    base = 32 * half
    return f"""
    list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(0, 31),
            d -> CASE WHEN embedding[d + {base + 1}] > 0
                      THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END)),
      (x, y) -> x + y)"""


SIM_BINARY_HAMMING_RERANK_SQL = f"""
WITH coded AS (
  SELECT vec_id, embedding,
         {_ddb_sign_code(0)} AS c0,
         {_ddb_sign_code(1)} AS c1
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, c0 AS q0, c1 AS q1
  FROM coded WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, c.vec_id, c.embedding, q.q_emb,
         CAST(bit_count(xor(c.c0, q.q0)) + bit_count(xor(c.c1, q.q1)) AS INT)
           AS hamming
  FROM coded c CROSS JOIN q WHERE c.vec_id <> q.q_id
),
cand AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY hamming ASC, vec_id ASC) AS hrank
    FROM scored)
  WHERE hrank <= {HAM_CANDIDATES}
),
rer AS (
  SELECT q_id, vec_id, hamming,
         {_ddb_cos("q_emb", "embedding")} AS cos
  FROM cand
)
SELECT q_id, vec_id, hamming, cos, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rer)
WHERE rank <= {TOP_K}
"""


# ─── Reciprocal-rank fusion of two ANN indexes ─────────────────────────────

RRF_K = 60  # the standard RRF damping constant (Cormack et al., SIGIR'09)


def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (§2.4 similarity — the retrieval-ensemble
    stage): fuse the IVF index's top-k with the binary-Hamming index's
    top-k per query via RRF(v) = Σ_lists 1/(K + rank_list(v)), K=60.
    RRF is the standard score-free ensemble for hybrid search (it needs
    only ranks, so an IVF cosine list and a Hamming-shortlist list fuse
    without calibrating their incomparable scores); candidates found by
    both indexes rise, single-index tails sink.

    Determinism: each RRF score is a TWO-term sum of exact reciprocals
    (one per index, coalesced to 0 when absent) — a fixed IEEE tree, not
    a data-ordered fold — and final ties pin on vec_id. The fused rank
    re-window is per query over ≤ 2k rows.

    Plan: both index queries keep their own (already scale-shaped)
    plans; fusion itself is one full-outer keyed join on (q_id, vec_id)
    over two k-row-per-query frames plus a per-query window — nil at any
    scale."""
    ivf = sim_ivf(spark, sf_dir).select(
        "q_id", "vec_id", F.col("rank").alias("r_ivf")
    )
    ham = sim_binary_hamming_rerank(spark, sf_dir).select(
        "q_id", "vec_id", F.col("rank").alias("r_ham")
    )
    fused = ivf.join(ham, ["q_id", "vec_id"], "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("r_ivf")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_ham")), F.lit(0.0))
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("vec_id"))
    return (
        fused.withColumn("rrf", score)
        .withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= TOP_K)
        .select(
            "q_id",
            "vec_id",
            F.col("r_ivf").cast("int").alias("r_ivf"),
            F.col("r_ham").cast("int").alias("r_ham"),
            F.col("rrf").cast("decimal(18,9)").cast("double").alias("rrf"),
            "fused_rank",
        )
    )


SIM_RRF_FUSION_SQL = f"""
WITH ivf AS ({{IVF}}),
ham AS ({{HAM}}),
fused AS (
  SELECT COALESCE(ivf.q_id, ham.q_id) AS q_id,
         COALESCE(ivf.vec_id, ham.vec_id) AS vec_id,
         ivf.rank AS r_ivf, ham.rank AS r_ham,
         COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + ivf.rank), CAST(0 AS DOUBLE))
         + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + ham.rank), CAST(0 AS DOUBLE))
           AS rrf
  FROM ivf FULL OUTER JOIN ham
    ON ivf.q_id = ham.q_id AND ivf.vec_id = ham.vec_id
)
SELECT q_id, vec_id,
       CAST(r_ivf AS INT) AS r_ivf, CAST(r_ham AS INT) AS r_ham,
       CAST(CAST(rrf AS DECIMAL(18,9)) AS DOUBLE) AS rrf,
       CAST(fused_rank AS INT) AS fused_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY rrf DESC, vec_id ASC) AS fused_rank
  FROM fused)
WHERE fused_rank <= {TOP_K}
"""
SIM_RRF_FUSION_SQL = SIM_RRF_FUSION_SQL.replace("{IVF}", SIM_IVF_SQL).replace(
    "{HAM}", SIM_BINARY_HAMMING_RERANK_SQL
)


# ---------------------------------------------------------------------------
# kNN-distance outlier screen (embedding-space data cleaning)
# ---------------------------------------------------------------------------

OUTLIER_BOTTOM_K = 50


def embedding_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-similarity outlier screen (§2.4 similarity / data cleaning):
    score every vector by the summed cosine of its top-{K_NN} verified
    LSH neighbors; vectors with few or weakly-similar neighbors are
    embedding-space outliers — mislabeled points, encoder failures, or
    genuinely novel content — and surface FIRST in the ascending-score
    ranking (isolated vectors score 0 with n_neighbors = 0 via the left
    join against the full embedding table, which a pair-stream-only
    formulation would silently drop).

    Plan: reads the shared ranked adjacency ``_knn_ranked`` (never
    re-touches the vectors), one keyed agg, one left join from the
    (key, id)-only embedding scan.
    Exactness: each cosine quantizes to integer micro-units BEFORE the
    sum (floor of a double — deterministic per value), so the aggregate
    is order-free and the ascending-rank LIMIT boundary pins by
    (score, vec_id).
    """
    per_node = (
        _knn_ranked(spark, sf_dir)
        .groupBy("a")
        .agg(
            F.count(F.lit(1)).cast("int").alias("nn"),
            F.sum(F.floor(F.col("cos") * 1_000_000).cast("bigint")).alias("sim_micro"),
        )
    )
    e = Catalog(spark, sf_dir).table("embeddings").select("vec_id")
    return (
        e.join(per_node, e.vec_id == per_node.a, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("nn"), F.lit(0)).cast("int").alias("n_neighbors"),
            F.coalesce(F.col("sim_micro"), F.lit(0)).cast("bigint").alias("knn_sim_micro"),
        )
        .orderBy(F.asc("knn_sim_micro"), "vec_id")
        .limit(OUTLIER_BOTTOM_K)
    )


EMBEDDING_KNN_OUTLIERS_SQL = f"""
WITH {_KNN_CTES},
per_node AS (
  SELECT a, CAST(COUNT(*) AS INT) AS nn,
         SUM(CAST(floor(cos * 1000000) AS BIGINT)) AS sim_micro
  FROM knn GROUP BY a
)
SELECT vec_id,
       CAST(COALESCE(nn, 0) AS INT) AS n_neighbors,
       CAST(COALESCE(sim_micro, 0) AS BIGINT) AS knn_sim_micro
FROM embeddings LEFT JOIN per_node ON vec_id = a
ORDER BY knn_sim_micro ASC, vec_id
LIMIT {OUTLIER_BOTTOM_K}
"""


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup inside k-means cells
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.35
# Cell-size valve: a cell bigger than max(64, 8·⌈n/K⌉) — 8× the average
# cell — is sub-sharded deterministically (sub = vec_id mod ⌈csz/cap⌉)
# before the within-cell self-join, so one hub cell on a clustered
# corpus can never reconstruct the quadratic blow-up the cells exist to
# kill: per (cell, sub) block the pair count is ≤ cap². Pairs CROSSING
# sub-shards of one oversized cell are missed — a measured-recall valve,
# strictly less lossy than the LSH family's precedent of EXCLUDING
# oversized buckets outright (LSH_MAX_BUCKET). The oracle replays the
# identical cap and sharding, so the valved plan is the hash-checked one.
SEMDEDUP_CELL_CAP_FACTOR = 8
SEMDEDUP_CELL_CAP_MIN = 64


def corpus_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): cluster the embedding space,
    then drop near-duplicates WITHIN each cluster — semantic dedup that
    catches paraphrases sharing no n-grams, at cluster-local cost. The
    sign-pattern blocking of dedup_embedding_cosine needs exact sign
    agreement (recall drops for antipodal-component near-dups); k-means
    cells block by NEIGHBORHOOD, the recall-oriented production choice,
    and the within-cell pair cost is (n/K)² per cell instead of n².

    K is CORPUS-DERIVED (r8 verdict directive #1): with K frozen the
    within-cell cost (n/K)²·K is quadratic in n; with K = max(16, ⌊√n⌋)
    expected cell size is √n and total pair work is n^1.5 — sub-quadratic
    at every decade (SCALING.md growth row). Skewed cells (a clustered
    corpus puts most vectors in few cells) are bounded by the
    deterministic sub-shard valve above (SEMDEDUP_CELL_CAP_FACTOR).

    The assignment is the shared ``_ivf_cells`` substrate (corpus ⨯
    broadcast centroids → map-side max_by), read here with its n and K;
    the within-cell self-join is keyed by (cell, sub-shard); a vector
    drops when SOME same-block partner has
    cosine ≥ {SEMDEDUP_TAU} and a smaller vec_id (greedy min-id
    representative — the deterministic stand-in for SemDeDup's 'keep one
    per group'). Output is the drop list with its kept representative
    and the evidence cosine, the rows a curation run feeds to the
    tombstone writer.
    """
    import math

    assigned, n_vecs, n_cells, _n_probe = _ivf_cells(spark, sf_dir)
    cell_cap = max(
        SEMDEDUP_CELL_CAP_MIN,
        SEMDEDUP_CELL_CAP_FACTOR * math.ceil(n_vecs / max(n_cells, 1)),
    )
    # cell-size valve: |cells| rows joined back (broadcast-sized — the
    # size table is K rows)
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("csz"))
    # r11: per-vector norm hoisted out of the within-cell PAIR grain
    # (same bit-identical dot/(na·nb) rewrite as _assign_cells — under
    # a clustered corpus the sub-sharded hub cells still dominate pair
    # count, and each pair now pays one fold, not three)
    sharded = (
        assigned.join(F.broadcast(sizes), "cell")
        .withColumn(
            "sub",
            F.col("vec_id")
            % F.ceil(F.col("csz") / F.lit(cell_cap)).cast("bigint"),
        )
        .withColumn("nrm", norm(F.col("embedding")))
        .select("cell", "sub", "vec_id", "embedding", "nrm")
    )
    a = sharded.select(
        "cell",
        "sub",
        F.col("vec_id").alias("keep_cand"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = sharded.select(
        "cell",
        "sub",
        F.col("vec_id").alias("drop_cand"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, ["cell", "sub"])
        .filter(F.col("keep_cand") < F.col("drop_cand"))
        .withColumn(
            "cos", dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= SEMDEDUP_TAU)
    )
    return (
        pairs.groupBy("cell", "drop_cand")
        .agg(
            F.min("keep_cand").alias("kept_rep"),
            F.max("cos").alias("max_cos"),
            F.count(F.lit(1)).cast("int").alias("n_partners"),
        )
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("drop_cand").alias("dropped_vec"),
            "kept_rep",
            "max_cos",
            "n_partners",
        )
        .orderBy("cell", "dropped_vec")
    )


CORPUS_SEMDEDUP_SQL = f"""
WITH {_IVF_CTES},
capparam AS (
  SELECT GREATEST({SEMDEDUP_CELL_CAP_MIN},
                  {SEMDEDUP_CELL_CAP_FACTOR} * CAST(CEIL(
                    CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE)
                    / (SELECT k FROM kparam)) AS BIGINT)) AS cap
),
cellsz AS (SELECT cell, COUNT(*) AS csz FROM assigned GROUP BY cell),
sharded AS (
  SELECT a.vec_id, a.embedding, a.cell,
         a.vec_id % CAST(CEIL(CAST(s.csz AS DOUBLE)
                              / (SELECT cap FROM capparam)) AS BIGINT) AS sub
  FROM assigned a JOIN cellsz s USING (cell)
),
pairs AS (
  SELECT a.cell, a.vec_id AS keep_cand, b.vec_id AS drop_cand,
         {_DDB_COS.format(a='a.embedding', b='b.embedding')} AS cos
  FROM sharded a JOIN sharded b
    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
)
SELECT CAST(cell AS INT) AS cell, drop_cand AS dropped_vec,
       MIN(keep_cand) AS kept_rep, MAX(cos) AS max_cos,
       CAST(COUNT(*) AS INT) AS n_partners
FROM pairs
WHERE cos >= {SEMDEDUP_TAU}
GROUP BY cell, drop_cand
ORDER BY cell, dropped_vec
"""


# ---------------------------------------------------------------------------
# IVF recall evaluation against the exact top-k
# ---------------------------------------------------------------------------

def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the IVF index against the exact brute-force
    top-{TOP_K} (§2.4 similarity — the eval loop every ANN deployment
    runs before trusting an index; the IVF sibling of
    dedup_lsh_quality_eval). Per query: how many of the true top-{TOP_K}
    neighbors the probe-limited IVF search returned, as an integer-ppm
    recall — the number that decides whether probing ⌊√K⌋ of the K
    corpus-derived cells is enough or the index needs more probes.

    Plan: both searches run their registered plans; the eval is a
    query-keyed LEFT join of truth against the IVF result (≤
    {TOP_K}·N_QUERIES rows — evaluation is free next to the searches).
    """
    truth = sim_topk_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    approx = sim_ivf(spark, sf_dir).select(
        F.col("q_id").alias("aq"), F.col("vec_id").alias("av")
    )
    hits = (
        truth.join(
            approx,
            (truth.q_id == F.col("aq")) & (truth.vec_id == F.col("av")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("av").isNotNull().cast("long")).alias("hits"),
        )
    )
    return hits.select(
        "q_id",
        F.col("k").cast("int").alias("k"),
        F.col("hits").cast("int").alias("hits"),
        F.expr("hits * 1000000 div k").alias("recall_ppm"),
    ).orderBy("q_id")


SIM_IVF_RECALL_EVAL_SQL = f"""
WITH truth AS ({SIM_TOPK_BRUTEFORCE_SQL}),
approx AS ({SIM_IVF_SQL}),
hits AS (
  SELECT t.q_id, COUNT(*) AS k,
         SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
  FROM truth t
  LEFT JOIN approx a ON a.q_id = t.q_id AND a.vec_id = t.vec_id
  GROUP BY t.q_id
)
SELECT q_id, CAST(k AS INT) AS k, CAST(hits AS INT) AS hits,
       CAST(hits * 1000000 // k AS BIGINT) AS recall_ppm
FROM hits ORDER BY q_id
"""


# ---------------------------------------------------------------------------
# Graph-based ANN: greedy best-neighbor search over the kNN graph
# ---------------------------------------------------------------------------

GREEDY_HOPS = 3


def sim_graph_greedy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-traversal ANN (§2.4 similarity — the THIRD index family
    next to hashing (LSH) and partitioning (IVF); the navigable-graph
    idea underlying HNSW/NSG, reduced to its deterministic core): over
    the shared directed top-{K_NN} neighbor graph (``_knn_ranked``),
    answer each query by GREEDY DESCENT — start at a fixed
    entry node (the smallest graph node id) and repeatedly hop to the
    neighbor most similar to the query, {GREEDY_HOPS} unrolled hops,
    tracking the best node seen. A real HNSW adds layered entry points
    and beam width; the plan shape (frontier ⋈ adjacency ⋈ vectors per
    hop — frontier-sized, never corpus-sized) is identical, which is
    what matters at 100 TB: search cost is hops × degree, independent
    of corpus size once the graph is built.

    Determinism: hop argmax pins (cos DESC, id ASC); the oracle unrolls
    the same hops over the same graph.
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    adj = _knn_ranked(spark, sf_dir).select("a", F.col("b").alias("cand"))
    entry = adj.agg(F.min("a").alias("cur"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    ecur = e.select(F.col("vec_id").alias("cur"), F.col("embedding").alias("cur_emb"))
    state = (
        q.crossJoin(F.broadcast(entry))
        .join(ecur, "cur")
        .select(
            "q_id",
            "q_emb",
            "cur",
            cosine(F.col("q_emb"), F.col("cur_emb")).alias("best_cos"),
            F.col("cur").alias("best_node"),
        )
    )
    for _ in range(GREEDY_HOPS):
        cands = (
            state.join(adj, state.cur == adj.a)
            .select("q_id", "q_emb", "best_cos", "best_node", "cand")
            .join(
                e.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("cand_emb")),
                "cand",
            )
            .withColumn("ccos", cosine(F.col("q_emb"), F.col("cand_emb")))
        )
        best = F.max(F.struct(F.col("ccos").alias("c"), (-F.col("cand")).alias("ni")))
        state = (
            cands.groupBy("q_id")
            .agg(
                F.first("q_emb").alias("q_emb"),
                F.first("best_cos").alias("old_cos"),
                F.first("best_node").alias("old_node"),
                best.alias("b"),
            )
            .select(
                "q_id",
                "q_emb",
                (-F.col("b.ni")).alias("cur"),
                F.when(F.col("b.c") > F.col("old_cos"), F.col("b.c"))
                .otherwise(F.col("old_cos"))
                .alias("best_cos"),
                F.when(F.col("b.c") > F.col("old_cos"), -F.col("b.ni"))
                .otherwise(F.col("old_node"))
                .alias("best_node"),
            )
        )
    return state.select("q_id", "best_node", "best_cos").orderBy("q_id")


def _greedy_hop_sql(k: int) -> str:
    return f"""
h{k} AS (
  SELECT q_id, q_emb, cur, best_cos, best_node FROM (
    SELECT s.q_id, s.q_emb,
           c.b AS cand,
           {_DDB_COS.format(a='s.q_emb', b='eb.embedding')} AS ccos,
           s.best_cos AS old_cos, s.best_node AS old_node,
           ROW_NUMBER() OVER (PARTITION BY s.q_id ORDER BY
             {_DDB_COS.format(a='s.q_emb', b='eb.embedding')} DESC, c.b ASC) AS rn
    FROM h{k - 1} s
    JOIN knn c ON c.a = s.cur
    JOIN embeddings eb ON eb.vec_id = c.b
  ) t,
  LATERAL (SELECT t.cand AS cur,
                  CASE WHEN t.ccos > t.old_cos THEN t.ccos ELSE t.old_cos END AS best_cos,
                  CASE WHEN t.ccos > t.old_cos THEN t.cand ELSE t.old_node END AS best_node) u
  WHERE rn = 1
)"""


SIM_GRAPH_GREEDY_SEARCH_SQL = (
    f"""
WITH {_KNN_CTES},
entry AS (SELECT MIN(a) AS cur FROM knn),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}),
h0 AS (
  SELECT q.q_id, q.q_emb, entry.cur,
         {_DDB_COS.format(a='q.q_emb', b='ec.embedding')} AS best_cos,
         entry.cur AS best_node
  FROM q, entry
  JOIN embeddings ec ON ec.vec_id = entry.cur
),"""
    + ",".join(_greedy_hop_sql(k) for k in range(1, GREEDY_HOPS + 1))
    + f"""
SELECT q_id, best_node, best_cos FROM h{GREEDY_HOPS} ORDER BY q_id
"""
)


BEAM_WIDTH = 3


def sim_graph_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam search over the kNN graph — the production refinement of
    ``sim_graph_greedy_search`` (greedy descent gets stuck on the first
    local maximum; HNSW's actual search keeps an ef-width frontier).
    Per hop: expand EVERY frontier node's neighbors, score against the
    query, keep the top-{BEAM_WIDTH} DISTINCT candidates as the next
    frontier (rank pinned by cos DESC, id ASC), and return each query's
    best node seen across all hops. Same cost model as greedy ×
    beam width — still corpus-size-independent after the graph build.

    Plan per hop: frontier ⋈ adjacency ⋈ vectors, one
    per-query rank window over ≤ B·K candidates — tiny. The frontier
    dedup (a node reached via two paths) is part of the hop's groupBy,
    which is what keeps the beam from collapsing to duplicates.
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    adj = _knn_ranked(spark, sf_dir).select("a", F.col("b").alias("nb"))
    entry = adj.agg(F.min("a").alias("node"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    frontier = (
        q.crossJoin(F.broadcast(entry))
        .join(e.select(F.col("vec_id").alias("node"), F.col("embedding").alias("n_emb")), "node")
        .select("q_id", "q_emb", "node", cosine(F.col("q_emb"), F.col("n_emb")).alias("cos"))
    )
    for hop in range(GREEDY_HOPS):
        expanded = (
            frontier.join(adj, frontier.node == adj.a)
            .select("q_id", "q_emb", F.col("nb").alias("node"))
            .union(frontier.select("q_id", "q_emb", "node"))
            .distinct()
            .join(
                e.select(F.col("vec_id").alias("node"), F.col("embedding").alias("n_emb")),
                "node",
            )
            .withColumn("cos", cosine(F.col("q_emb"), F.col("n_emb")))
        )
        wq = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("node"))
        # eager checkpoint: the frontier is ≤ N_QUERIES·BEAM_WIDTH rows,
        # but an un-truncated 3-hop unroll re-derives the whole LSH pair
        # build inside every hop's window (the power-iteration lineage
        # lesson, PLANS.md) — measured 20 s → ~12 s at sf0.01
        prev, frontier = frontier, (
            expanded.withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= BEAM_WIDTH)
            .select("q_id", "q_emb", "node", "cos")
            .localCheckpoint(eager=True)
        )
        if hop:
            release(prev)  # the previous hop's checkpoint
    wq = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("node"))
    return (
        frontier.withColumn("rk", F.row_number().over(wq).cast("int"))
        .select("q_id", F.col("node").alias("best_node"), F.col("cos").alias("best_cos"), "rk")
        .orderBy("q_id", "rk")
    )


def _beam_hop_sql(k: int) -> str:
    return f"""
f{k} AS (
  SELECT q_id, q_emb, node, cos FROM (
    SELECT c.q_id, c.q_emb, c.node,
           {_DDB_COS.format(a='c.q_emb', b='en.embedding')} AS cos,
           ROW_NUMBER() OVER (PARTITION BY c.q_id ORDER BY
             {_DDB_COS.format(a='c.q_emb', b='en.embedding')} DESC, c.node ASC) AS rk
    FROM (
      SELECT DISTINCT q_id, q_emb, node FROM (
        SELECT s.q_id, s.q_emb, ae.b AS node
        FROM f{k - 1} s JOIN knn ae ON ae.a = s.node
        UNION
        SELECT q_id, q_emb, node FROM f{k - 1})
    ) c
    JOIN embeddings en ON en.vec_id = c.node
  ) WHERE rk <= {BEAM_WIDTH}
)"""


SIM_GRAPH_BEAM_SEARCH_SQL = (
    f"""
WITH {_KNN_CTES},
entry AS (SELECT MIN(a) AS node FROM knn),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}),
f0 AS (
  SELECT q.q_id, q.q_emb, entry.node,
         {_DDB_COS.format(a='q.q_emb', b='ec.embedding')} AS cos
  FROM q, entry JOIN embeddings ec ON ec.vec_id = entry.node
),"""
    + ",".join(_beam_hop_sql(k) for k in range(1, GREEDY_HOPS + 1))
    + f"""
SELECT q_id, node AS best_node, cos AS best_cos, CAST(rk AS INT) AS rk FROM (
  SELECT q_id, node, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, node ASC) AS rk
  FROM f{GREEDY_HOPS})
ORDER BY q_id, rk
"""
)


# ---------------------------------------------------------------------------
# Submodular (facility-location) diverse subset selection
# ---------------------------------------------------------------------------

SUBMOD_ROUNDS = 3


def corpus_submodular_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location selection (§2.4 data selection — the
    submodular-coverage recipe for "pick a small DIVERSE subset that
    represents the corpus", used for coreset construction and diverse
    fine-tuning pools; the lazy-greedy algorithm is public textbook
    material): {SUBMOD_ROUNDS} unrolled greedy rounds; each round picks
    the vector maximizing the marginal coverage gain
      Σ_{{u ∈ N(c) ∪ {{c}}}} max(0, sim(c,u) − best(u))
    over the verified LSH neighborhood graph (the scale move: true
    facility location sums over ALL points — O(n) per candidate —
    while the graph restriction keeps each round edge-stream-sized and
    loses only below-threshold similarity mass).

    Exactness: every similarity quantizes to integer micro-units at the
    edge BEFORE any sum (floor of a double — deterministic per value),
    so coverage gains are exact BIGINT sums, the argmax is a total
    order (gain DESC, id ASC), and the coverage state (per-node best
    similarity) is an integer column updated by a keyed max — the whole
    greedy trajectory replays bit-identically.
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    edges = (
        _symmetric(sim_lsh_banded(spark, sf_dir))
        .select(
            F.col("a").alias("u"), F.col("b").alias("v"),
            F.floor(F.col("cos") * 1_000_000).cast("bigint").alias("w"),
        )
        .union(
            e.select(
                F.col("vec_id").alias("u"), F.col("vec_id").alias("v"),
                F.lit(1_000_000).cast("bigint").alias("w"),
            )
        )
        .localCheckpoint(eager=True)
    )
    best = e.select(F.col("vec_id").alias("node"), F.lit(0).cast("bigint").alias("best"))
    picks = []
    for r in range(SUBMOD_ROUNDS):
        gains = (
            edges.join(best, edges.v == best.node)
            .select("u", "v", F.greatest(F.col("w") - F.col("best"), F.lit(0)).alias("g"))
            .groupBy("u")
            .agg(F.sum("g").alias("gain"))
        )
        # facility-location greedy picks each facility ONCE: anti-join the
        # prior selections out before the argmax, else a fully-covered
        # round (every residual gain 0) re-selects the smallest id
        # instead of the next-best uncovered vector (r3 advice)
        for prior in picks:
            gains = gains.join(
                F.broadcast(prior.select(F.col("sel").alias("u"))), "u", "left_anti"
            )
        sel = (
            gains.agg(
                F.max(F.struct(F.col("gain").alias("g"), (-F.col("u")).alias("nu"))).alias("b")
            )
            .select((-F.col("b.nu")).alias("sel"), F.col("b.g").alias("gain"))
            .localCheckpoint(eager=True)
        )
        picks.append(sel.select(F.lit(r + 1).alias("round"), "sel", "gain"))
        if r + 1 == SUBMOD_ROUNDS:
            break  # no later round reads the coverage state
        cover = (
            edges.join(F.broadcast(sel), edges.u == F.col("sel"))
            .select(F.col("v").alias("node"), F.col("w").alias("nw"))
        )
        prev, best = best, (
            best.join(cover, "node", "left")
            .select("node", F.greatest(F.col("best"), F.coalesce(F.col("nw"), F.lit(0))).alias("best"))
            .localCheckpoint(eager=True)
        )
        if r:
            release(prev)  # the previous round's checkpoint
    # the returned plan reads only the picks' checkpoints
    release(edges)
    release(best)
    out = picks[0]
    for pdf in picks[1:]:
        out = out.unionAll(pdf)
    return out.select(
        F.col("round").cast("int").alias("round"),
        F.col("sel").alias("selected_vec"),
        F.col("gain").alias("coverage_gain_micro"),
    ).orderBy("round")


def _submod_round_sql(r: int) -> str:
    # mirror the Spark side's prior-pick anti-join: a facility is
    # selectable at most once (r3 advice)
    exclude = (
        "  WHERE "
        + " AND ".join(f"u NOT IN (SELECT sel FROM s{k})" for k in range(1, r))
        + "\n"
        if r > 1
        else ""
    )
    return f"""
g{r} AS (
  SELECT u, SUM(GREATEST(w - b.best, 0)) AS gain
  FROM edges e JOIN b{r - 1} b ON e.v = b.node
  GROUP BY u
),
s{r} AS (
  SELECT u AS sel, gain FROM g{r}
{exclude}  ORDER BY gain DESC, u ASC LIMIT 1
),
b{r} AS (
  SELECT b.node, GREATEST(b.best, COALESCE(c.nw, 0)) AS best
  FROM b{r - 1} b
  LEFT JOIN (SELECT e.v AS node, MAX(e.w) AS nw
             FROM edges e JOIN s{r} ON e.u = s{r}.sel GROUP BY e.v) c
    ON b.node = c.node
)"""


CORPUS_SUBMODULAR_SELECT_SQL = (
    f"""
WITH {_KNN_CTES},
edges AS (
  SELECT a AS u, b AS v, CAST(floor(cos * 1000000) AS BIGINT) AS w FROM sym
  UNION ALL
  SELECT vec_id, vec_id, CAST(1000000 AS BIGINT) FROM embeddings
),
b0 AS (SELECT vec_id AS node, CAST(0 AS BIGINT) AS best FROM embeddings),"""
    + ",".join(_submod_round_sql(r) for r in range(1, SUBMOD_ROUNDS + 1))
    + f"""
SELECT CAST(r AS INT) AS round, sel AS selected_vec,
       CAST(gain AS BIGINT) AS coverage_gain_micro
FROM (
  {" UNION ALL ".join(f"SELECT {r} AS r, sel, gain FROM s{r}" for r in range(1, SUBMOD_ROUNDS + 1))}
)
ORDER BY round
"""
)


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT MaxSim) multi-vector retrieval
# ---------------------------------------------------------------------------

MV_GROUP = 4       # token-vectors per multi-vector "document"
MV_N_QUERIES = 3   # query documents: mv_id < 3
MV_TOP_K = 5


def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (the ColBERT MaxSim operator,
    Khattab & Zaharia 2020): documents and queries are BAGS of token
    vectors, and score(q, d) = Σ_{i∈q} max_{j∈d} cos(qᵢ, dⱼ) — each
    query token independently finds its best-matching document token,
    so the operator captures term-level alignment that single-vector
    cosine (``sim_topk_bruteforce``) averages away. Multi-vector docs
    are modeled on the fixture by grouping ``MV_GROUP`` consecutive
    vec_ids (``mv_id = vec_id div MV_GROUP``); the first
    ``MV_N_QUERIES`` groups are the query set.

    Determinism: per-token max is a comparison (no accumulation — exact
    on any engine); the per-query SUM of ≤ ``MV_GROUP`` maxima folds in
    pinned vec_id order on both engines (the collect→array_sort→
    aggregate twin of ``list(x ORDER BY k)``), so the double is
    bit-stable.

    Plan: query token vectors (MV_N_QUERIES·MV_GROUP rows) broadcast
    against ONE corpus scan — the token-pair scoring is map-side only;
    the max and the pinned sum ride two keyed aggs whose row counts are
    |corpus-docs|·|query-tokens| and |corpus-docs|·|queries|. At 100 TB
    the corpus side streams exactly like the brute-force baseline; the
    production path prunes candidates with ANN first (sim_ivf /
    sim_lsh_banded) and MaxSim re-ranks the survivors — this operator
    IS that re-rank stage.
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    mv = e.select(
        (F.col("vec_id") / MV_GROUP).cast("long").alias("mv_id"),
        "vec_id",
        "embedding",
    )
    q = mv.filter(F.col("mv_id") < MV_N_QUERIES).select(
        F.col("mv_id").alias("q_id"),
        F.col("vec_id").alias("q_vec"),
        F.col("embedding").alias("q_emb"),
    )
    d = mv.filter(F.col("mv_id") >= MV_N_QUERIES)
    tok = (
        d.crossJoin(F.broadcast(q))
        .withColumn("cos", cosine(F.col("q_emb"), F.col("embedding")))
        .groupBy("q_id", "q_vec", F.col("mv_id").alias("d_id"))
        .agg(F.max("cos").alias("maxcos"))
    )
    scored = (
        tok.groupBy("q_id", "d_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("q_vec", "maxcos"))).alias("ms")
        )
        .select(
            "q_id",
            "d_id",
            F.expr(
                "aggregate(transform(ms, x -> x.maxcos), 0D, (acc, v) -> acc + v)"
            ).alias("maxsim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("d_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= MV_TOP_K)
        .select("q_id", "d_id", "maxsim", "rank")
    )


SIM_MAXSIM_LATE_INTERACTION_SQL = f"""
WITH mv AS (
  SELECT vec_id // {MV_GROUP} AS mv_id, vec_id, embedding FROM embeddings
),
q AS (
  SELECT mv_id AS q_id, vec_id AS q_vec, embedding AS q_emb
  FROM mv WHERE mv_id < {MV_N_QUERIES}
),
tok AS (
  SELECT q.q_id, q.q_vec, d.mv_id AS d_id,
         MAX(
           list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(d.embedding)),
                              i -> q.q_emb[i]::DOUBLE * d.embedding[i]::DOUBLE)),
             (a, b) -> a + b)
           / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(generate_series(1, len(q.q_emb)),
                                i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)),
               (a, b) -> a + b))
              * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(generate_series(1, len(d.embedding)),
                                i -> d.embedding[i]::DOUBLE * d.embedding[i]::DOUBLE)),
               (a, b) -> a + b)))
         ) AS maxcos
  FROM mv d CROSS JOIN q
  WHERE d.mv_id >= {MV_N_QUERIES}
  GROUP BY q.q_id, q.q_vec, d.mv_id
),
scored AS (
  SELECT q_id, d_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(maxcos ORDER BY q_vec)),
                     (a, b) -> a + b) AS maxsim
  FROM tok GROUP BY q_id, d_id
)
SELECT q_id, d_id, maxsim, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, d_id, maxsim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY maxsim DESC, d_id ASC) AS rank
  FROM scored)
WHERE rank <= {MV_TOP_K}
"""


def ml_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification accuracy over the mutual-kNN graph — the
    leave-one-out eval every embedding space gets before it ships: each
    vector is predicted as the majority label of its mutual-kNN
    neighbors (ties → smaller label id) and scored against its own
    label, reported per true class. Low accuracy for a class = its
    region of the space is entangled — the signal that drives re-embed /
    re-cluster decisions.

    Composes entirely on the edge stream ``sim_knn_graph`` already
    built (LSH-candidate, bucket-valved): symmetrize, one
    neighbor-label join against the |corpus| label side (keyed
    equi-join), one (node, label) vote agg, one per-node argmax window
    (vote-count grain), one rollup. Nodes with no mutual edge are
    out-of-coverage and excluded by construction (reported via n_nodes
    vs class size in the companion recall evals).
    """
    edges = sim_knn_graph(spark, sf_dir)
    und = edges.select(F.col("vec_a").alias("node"), F.col("vec_b").alias("nb")).union(
        edges.select(F.col("vec_b").alias("node"), F.col("vec_a").alias("nb"))
    )
    lab = (
        Catalog(spark, sf_dir)
        .table("embeddings")
        .select("vec_id", F.col("label").cast("int").alias("label"))
    )
    votes = (
        und.join(lab.withColumnRenamed("vec_id", "nb").withColumnRenamed("label", "nlabel"), "nb")
        .groupBy("node", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("nlabel"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("node", F.col("nlabel").alias("pred"))
    )
    return (
        pred.join(lab.withColumnRenamed("vec_id", "node"), "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0)).alias(
                "n_correct"
            ),
        )
        .select(
            "label",
            "n_nodes",
            "n_correct",
            F.expr("n_correct * 1000000L div n_nodes").alias("acc_ppm"),
        )
    )


ML_KNN_CLASSIFIER_EVAL_SQL = f"""
WITH {_KNN_CTES},
mutual AS (
  SELECT x.a AS vec_a, x.b AS vec_b
  FROM knn x JOIN knn y ON x.a = y.b AND x.b = y.a
  WHERE x.a < x.b
),
und AS (
  SELECT vec_a AS node, vec_b AS nb FROM mutual
  UNION ALL
  SELECT vec_b AS node, vec_a AS nb FROM mutual
),
votes AS (
  SELECT u.node, CAST(l.label AS INT) AS nlabel, COUNT(*) AS c
  FROM und u JOIN embeddings l ON l.vec_id = u.nb
  GROUP BY u.node, l.label
),
pred AS (
  SELECT node, nlabel AS pred
  FROM (
    SELECT node, nlabel,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, nlabel ASC) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT CAST(l.label AS INT) AS label,
       COUNT(*) AS n_nodes,
       CAST(SUM(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // COUNT(*) AS acc_ppm
FROM pred p JOIN embeddings l ON l.vec_id = p.node
GROUP BY l.label
"""


def ml_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank retrieval eval (per query): the rank of the
    FIRST same-label neighbor in the exact cosine top-{TOP_K}, and its
    reciprocal — the ranking metric that asks "how far down the list is
    the first relevant result" and, unlike NDCG, needs no logarithmic
    discount (reciprocals stay rational, so the output is an exact ppm
    integer — the no-transcendentals invariant holds). Queries whose
    top-{TOP_K} contains no same-label vector score 0 with a NULL rank —
    the honest "retrieval missed" marker.

    Composes on ``sim_topk_bruteforce`` (one corpus scan, broadcast
    query set); the label joins are |top-k·queries|-sized, and the
    rollup is one tiny keyed agg. The fleet mean is a trivial average
    over this output — emitted per-query so the eval localizes which
    queries fail, not just how much.
    """
    tk = sim_topk_bruteforce(spark, sf_dir)
    lab = (
        Catalog(spark, sf_dir)
        .table("embeddings")
        .select("vec_id", F.col("label").cast("int").alias("label"))
    )
    j = (
        tk.join(
            lab.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")),
            "q_id",
        )
        .join(
            lab.select(F.col("vec_id"), F.col("label").alias("n_label")),
            "vec_id",
        )
    )
    return (
        j.groupBy("q_id", "q_label")
        .agg(
            F.min(
                F.when(F.col("n_label") == F.col("q_label"), F.col("rank"))
            ).alias("first_hit_rank")
        )
        .select(
            "q_id",
            "q_label",
            "first_hit_rank",
            F.coalesce(
                F.expr("1000000L div first_hit_rank"), F.lit(0).cast("long")
            ).alias("rr_ppm"),
        )
    )


ML_MRR_EVAL_SQL = f"""
WITH topk AS (
  {SIM_TOPK_BRUTEFORCE_SQL.replace(chr(10), chr(10) + "  ")}
),
j AS (
  SELECT t.q_id, CAST(ql.label AS INT) AS q_label, t.rank,
         CAST(nl.label AS INT) AS n_label
  FROM topk t
  JOIN embeddings ql ON ql.vec_id = t.q_id
  JOIN embeddings nl ON nl.vec_id = t.vec_id
)
SELECT q_id, q_label,
       MIN(CASE WHEN n_label = q_label THEN rank END) AS first_hit_rank,
       COALESCE(1000000 // MIN(CASE WHEN n_label = q_label THEN rank END),
                CAST(0 AS BIGINT)) AS rr_ppm
FROM j GROUP BY q_id, q_label
"""


def sim_maxsim_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production late-interaction pipeline as ONE checked plan:
    ANN candidate generation (the bucket-valved banded-LSH pair
    stream) followed by MaxSim re-ranking of ONLY the candidate
    documents — the two-stage retrieval ``sim_maxsim_late_interaction``
    documents as its scale contract, now oracle-checked instead of a
    docstring promise (the dedup-valve precedent: the scale-safe twin
    is the one the gate pins).

    A document is a candidate for a query iff ANY of its token vectors
    shares a verified LSH pair with ANY query token — so re-rank work
    is |candidates|·|q-tokens|·|doc-tokens| FLOPs instead of
    |corpus|·|q-tokens|: at 100 TB the pair stream prunes, the exact
    scorer never sees the full corpus, and missed docs are the
    documented ANN recall trade (measurable against the exact twin).

    Determinism: identical scoring tree to the exact operator (max =
    comparison; sum folds in pinned vec_id order); candidate sets are
    exact set-semantics joins on the deterministic pair stream.
    """
    mv = (
        Catalog(spark, sf_dir)
        .table("embeddings")
        .select(
            (F.col("vec_id") / MV_GROUP).cast("long").alias("mv_id"),
            "vec_id",
            "embedding",
        )
    )
    ids = _symmetric(sim_lsh_banded(spark, sf_dir)).select(
        (F.col("a") / MV_GROUP).cast("long").alias("q_id"),
        (F.col("b") / MV_GROUP).cast("long").alias("d_id"),
    )
    cand = (
        ids.filter(
            (F.col("q_id") < MV_N_QUERIES) & (F.col("d_id") >= MV_N_QUERIES)
        )
        .distinct()
    )
    qtok = mv.filter(F.col("mv_id") < MV_N_QUERIES).select(
        F.col("mv_id").alias("q_id"),
        F.col("vec_id").alias("q_vec"),
        F.col("embedding").alias("q_emb"),
    )
    dtok = mv.filter(F.col("mv_id") >= MV_N_QUERIES).select(
        F.col("mv_id").alias("d_id"),
        F.col("vec_id").alias("d_vec"),
        F.col("embedding").alias("d_emb"),
    )
    tok = (
        cand.join(dtok, "d_id")
        .join(F.broadcast(qtok), "q_id")
        .withColumn("cos", cosine(F.col("q_emb"), F.col("d_emb")))
        .groupBy("q_id", "q_vec", "d_id")
        .agg(F.max("cos").alias("maxcos"))
    )
    scored = (
        tok.groupBy("q_id", "d_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("q_vec", "maxcos"))).alias("ms")
        )
        .select(
            "q_id",
            "d_id",
            F.expr(
                "aggregate(transform(ms, x -> x.maxcos), 0D, (acc, v) -> acc + v)"
            ).alias("maxsim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("d_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= MV_TOP_K)
        .select("q_id", "d_id", "maxsim", "rank")
    )


SIM_MAXSIM_PRUNED_SQL = f"""
WITH {_KNN_CTES},
mcand AS (
  SELECT DISTINCT a // {MV_GROUP} AS q_id, b // {MV_GROUP} AS d_id
  FROM sym
  WHERE a // {MV_GROUP} < {MV_N_QUERIES}
    AND b // {MV_GROUP} >= {MV_N_QUERIES}
),
mv AS (
  SELECT vec_id // {MV_GROUP} AS mv_id, vec_id, embedding FROM embeddings
),
q AS (
  SELECT mv_id AS q_id, vec_id AS q_vec, embedding AS q_emb
  FROM mv WHERE mv_id < {MV_N_QUERIES}
),
tok AS (
  SELECT c.q_id, q.q_vec, c.d_id,
         MAX(
           list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(d.embedding)),
                              i -> q.q_emb[i]::DOUBLE * d.embedding[i]::DOUBLE)),
             (a, b) -> a + b)
           / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(generate_series(1, len(q.q_emb)),
                                i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)),
               (a, b) -> a + b))
              * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(generate_series(1, len(d.embedding)),
                                i -> d.embedding[i]::DOUBLE * d.embedding[i]::DOUBLE)),
               (a, b) -> a + b)))
         ) AS maxcos
  FROM mcand c
  JOIN mv d ON d.mv_id = c.d_id
  JOIN q ON q.q_id = c.q_id
  GROUP BY c.q_id, q.q_vec, c.d_id
),
scored AS (
  SELECT q_id, d_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(maxcos ORDER BY q_vec)),
                     (a, b) -> a + b) AS maxsim
  FROM tok GROUP BY q_id, d_id
)
SELECT q_id, d_id, maxsim, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, d_id, maxsim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY maxsim DESC, d_id ASC) AS rank
  FROM scored)
WHERE rank <= {MV_TOP_K}
"""


# ─── Matryoshka truncation eval ─────────────────────────────────────────────

MRL_FRAC = 4  # truncated representation = first dim/4 components


def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval eval (Matryoshka representation
    learning, Kusupati et al. 2022 — the production pattern of serving a
    PREFIX of each embedding): per query, how much of the full-dimension
    cosine top-k does ranking by only the first dim/{MRL_FRAC} components
    recover? The measured recall is the go/no-go for running ANN over
    truncated vectors (4× less memory bandwidth, 4× smaller index) —
    the cheapest lever a 100 TB vector store has.

    Plan: ONE broadcast of the query set, one corpus scan computing BOTH
    cosines row-locally (the truncated dot is a prefix slice of the same
    array — no second scan), two rank windows over the same scored
    frame, overlap count per query. Integer outputs only (overlap and
    recall-ppm), so the hash is float-ulp-proof; both engines fold dot
    products in identical element order."""
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d4 = F.expr(f"size(embedding) div {MRL_FRAC}")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cos_full", cosine(F.col("q_emb"), F.col("embedding")))
        .withColumn(
            "cos_trunc",
            cosine(F.slice(F.col("q_emb"), F.lit(1), d4), F.slice(F.col("embedding"), F.lit(1), d4)),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    wt = Window.partitionBy("q_id").orderBy(F.desc("cos_trunc"), F.asc("vec_id"))
    ranked = scored.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rt", F.row_number().over(wt)
    )
    return (
        ranked.filter(F.col("rf") <= TOP_K)
        .groupBy("q_id")
        .agg(
            F.sum(F.when(F.col("rt") <= TOP_K, 1).otherwise(0)).alias("n_overlap")
        )
        .select(
            "q_id",
            F.lit(TOP_K).alias("k"),
            "n_overlap",
            F.expr(f"n_overlap * 1000000L div {TOP_K}").alias("recall_ppm"),
        )
    )


EMBEDDING_MATRYOSHKA_EVAL_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(e.embedding)),
                            i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE)),
           (a, b) -> a + b)
         / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(q.q_emb)),
                              i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)),
             (a, b) -> a + b))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(e.embedding)),
                              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
             (a, b) -> a + b))) AS cos_full,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(generate_series(1, len(e.embedding) // {MRL_FRAC}),
                            i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE)),
           (a, b) -> a + b)
         / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(q.q_emb) // {MRL_FRAC}),
                              i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)),
             (a, b) -> a + b))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, len(e.embedding) // {MRL_FRAC}),
                              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
             (a, b) -> a + b))) AS cos_trunc
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_full DESC, vec_id ASC) AS rf,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_trunc DESC, vec_id ASC) AS rt
  FROM scored
)
SELECT q_id, {TOP_K} AS k,
       CAST(SUM(CASE WHEN rt <= {TOP_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN rt <= {TOP_K} THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // {TOP_K} AS recall_ppm
FROM ranked WHERE rf <= {TOP_K}
GROUP BY q_id
"""
