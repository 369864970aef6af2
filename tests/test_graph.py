"""Graph family over the near-dup Jaccard edge set: the edge contract,
the Louvain sweep, modularity ladders, random walks, and the
degenerate-graph NULLs. The oracle gate pins engine parity; these pin
the semantics."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.oracle import compare


def test_modularity_bounds_and_methods(spark):
    from nzwirelessmap_fetch_spark.operators.graph import graph_modularity

    rows = {r.method: r for r in graph_modularity(spark, SF_SMOKE).collect()}
    assert set(rows) == {"star", "components"}
    for r in rows.values():
        assert -1.0 <= r.modularity <= 1.0
    # components: every edge is intra-community, so Q = 1 − Σ(D_c/E)² ≥ 0
    assert rows["components"].modularity >= 0


def test_louvain_converged_ladder_monotone(spark):
    """Directive #8: the converged Louvain ladder improves Q monotonely
    from the singleton baseline and TERMINATES with an explicit
    zero-move level (or the cap) — rounds-to-stop is the ladder length
    minus the singleton row."""
    from nzwirelessmap_fetch_spark.operators.graph import (
        LOUVAIN_MAX_LEVELS,
        graph_louvain_converged,
    )

    rows = graph_louvain_converged(spark, SF_SMOKE).collect()
    by_method = {r["method"]: r for r in rows}
    assert "singleton" in by_method and "louvain1" in by_method
    levels = sorted(m for m in by_method if m.startswith("louvain"))
    assert len(levels) <= LOUVAIN_MAX_LEVELS
    q = [by_method["singleton"]["modularity"]] + [
        by_method[m]["modularity"] for m in levels
    ]
    assert all(b >= a - 1e-12 for a, b in zip(q, q[1:])), f"non-monotone: {q}"
    last = by_method[levels[-1]]
    # either proven converged (terminal zero-move row) or cap-bounded
    assert last["n_moved"] == 0 or len(levels) == LOUVAIN_MAX_LEVELS
    # labels compose to a coarser partition than singleton
    assert last["n_communities"] <= by_method["singleton"]["n_communities"]


def test_random_walks_follow_edges(spark):
    from nzwirelessmap_fetch_spark.operators.dedup import _jaccard_edges
    from nzwirelessmap_fetch_spark.operators.graph import (
        WALK_LENGTH,
        WALKS_PER_NODE,
        graph_random_walks,
    )

    edges = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_edges(spark, SF_SMOKE).collect()
    }
    sym = edges | {(b, a) for a, b in edges}
    walks = graph_random_walks(spark, SF_SMOKE).collect()
    nodes = {a for a, _ in sym}
    assert len(walks) == len(nodes) * WALKS_PER_NODE
    for r in walks:
        path = [int(x) for x in r.path.split(",")]
        assert len(path) == WALK_LENGTH + 1
        assert path[0] == r.start and path[-1] == r.end_node
        for u, v in zip(path, path[1:]):
            assert (u, v) in sym  # every hop is a real edge
    # determinism: a second run yields the identical corpus
    again = graph_random_walks(spark, SF_SMOKE).collect()
    assert [(r.start, r.walk_no, r.path) for r in walks] == [
        (r.start, r.walk_no, r.path) for r in again
    ]


def test_random_walks_ship_no_nested_cell(spark, ddb):
    """The walk path ships comma-joined on both engines: a pandas row
    canonicalizer (sort over every column, then hash) must take every
    cell — an ``array<bigint>`` path raised ``TypeError: unhashable type:
    'list'`` there."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, MapType, StructType

    from nzwirelessmap_fetch_spark.operators.graph import (
        GRAPH_RANDOM_WALKS_SQL,
        graph_random_walks,
    )

    df = graph_random_walks(spark, SF_CORRECT)
    nested = (ArrayType, MapType, StructType)
    assert not [f.name for f in df.schema.fields if isinstance(f.dataType, nested)]
    oracle = ddb.execute(f"DESCRIBE {GRAPH_RANDOM_WALKS_SQL}").fetchall()
    assert dict((r[0], r[1]) for r in oracle)["path"] == "VARCHAR"
    pdf = df.toPandas()
    assert len(pdf)
    pd.util.hash_pandas_object(pdf.sort_values(list(pdf.columns)), index=False)


def test_random_walks_oracle_follows_walk_length(spark, monkeypatch):
    """The oracle's step CTEs are generated from the walk length, so a
    changed ``WALK_LENGTH`` moves both engines: at 2 and at 4 hops the
    walk corpus hash-matches the oracle built for that length."""
    import duckdb

    from nzwirelessmap_fetch_spark.operators import graph

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    for walk_length in (2, 4):
        monkeypatch.setattr(graph, "WALK_LENGTH", walk_length)
        df = graph.graph_random_walks(spark, SF_SMOKE)
        paths = [r.path for r in df.select("path").collect()]
        assert paths and all(len(p.split(",")) == walk_length + 1 for p in paths)
        compare(df, con, graph._graph_random_walks_sql(walk_length))
    con.close()


def test_jaccard_edges_symmetric_distinct_loop_free(spark):
    """The edge contract every graph consumer relies on, and the reason
    ``_jaccard_edges`` needs no distinct: the set is symmetric, has no
    duplicate rows and no self-loops."""
    from nzwirelessmap_fetch_spark.operators.dedup import _jaccard_edges

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        rows = [(r.doc_a, r.doc_b) for r in _jaccard_edges(spark, sf_dir).collect()]
        edges = set(rows)
        assert rows, f"{sf_dir}: fixture corpus has no near-dup edges"
        assert len(rows) == len(edges), f"{sf_dir}: duplicate edge rows"
        assert all(a != b for a, b in edges), f"{sf_dir}: self-loop"
        assert edges == {(b, a) for a, b in edges}, f"{sf_dir}: not symmetric"


def test_louvain_weighted_sweep_hand_built(spark):
    """One sweep over a hand-built weighted edge list (E = 10), labels
    derived by hand from gain = 2·w·E − 2·k_s·k_t:
    - 1 ⇄ 2 (w 1, k 1 each): gain 18 both ways, a mutual pair, so the
      smaller id 1 stays and 2 moves to 1;
    - 3 → 4 (gain 18) and 4 → 5 (w 5: gain 98 beats 4 → 3's 18), both
      one-way proposals, which stand (5 has no out-edges, so it is not
      swept);
    - 6 → 7 (k 2 and 5): gain 20 − 20 = 0 is not positive, so 6 stays."""
    from nzwirelessmap_fetch_spark.operators.graph import _louvain_weighted_sweep

    wedges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (3, 4, 1), (4, 3, 1), (4, 5, 5), (6, 7, 1)],
        "s long, t long, w long",
    )
    deg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 2), (7, 5)],
        "node long, k long",
    )
    lab, n_moved = _louvain_weighted_sweep(wedges, deg, 10)
    got = {r.node: (r.c, r.moved) for r in lab.collect()}
    assert got == {
        1: (1, False),
        2: (1, True),
        3: (4, True),
        4: (5, True),
        6: (6, False),
    }
    assert n_moved == 3


def _two_doc_corpus(tmp_path):
    """Two near-duplicate documents: one undirected edge, no wedges, and
    every endpoint of degree 1."""
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = pa.table(
        {
            "doc_id": pa.array([0, 1], pa.int64()),
            "text": [text, text + " today"],
            "lang": ["en", "en"],
            "source": ["src0", "src1"],
            "n_chars": pa.array([len(text), len(text) + 6], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    return str(tmp_path)


def test_degenerate_graph_metrics_are_null(spark, tmp_path):
    """No wedges leaves the clustering coefficient undefined and equal
    degrees leave assortativity undefined: both are NULL, as in the
    DuckDB oracles, instead of an ANSI divide-by-zero."""
    import duckdb

    from nzwirelessmap_fetch_spark.operators.graph import (
        GRAPH_ASSORTATIVITY_SQL,
        GRAPH_TRIANGLE_COUNT_SQL,
        graph_assortativity,
        graph_triangle_count,
    )

    sf_dir = _two_doc_corpus(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    tri = graph_triangle_count(spark, sf_dir)
    assort = graph_assortativity(spark, sf_dir)
    compare(tri, con, GRAPH_TRIANGLE_COUNT_SQL)
    compare(assort, con, GRAPH_ASSORTATIVITY_SQL)
    t = tri.collect()[0]
    assert (t.n_triangles, t.n_wedges, t.n_nodes) == (0, 0, 2)
    assert t.clustering_coeff is None
    a = assort.collect()[0]
    assert (a.n_directed_edges, a.n_nodes, a.mean_edge_degree) == (2, 2, 1.0)
    assert a.assortativity is None
    con.close()
