"""Each benchmark check must reject a perturbed output.

    python3 -m pytest perfbench/tests -q

The graph is the ground truth's own graph rebuilt as node and edge rows;
each test perturbs it once (an edge dropped, a node relabelled, a pair
lost, a query row altered) and asserts the check fails, after asserting
the unperturbed form passes. The last test runs the Spark forms of the
graph checks, which the benchmark applies to the program's tables, over
the same rows, and also leaves an endpoint dangling and duplicates an
edge.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import checks  # noqa: E402
import corpus  # noqa: E402

DOCS = range(0, 60)


@pytest.fixture(scope="module")
def truth():
    return corpus.ground_truth(DOCS, 1, 20)


@pytest.fixture(scope="module")
def graph(truth):
    """(nodes: id -> type, edges: [(from, to, type)]) of the pages DOCS,
    rebuilt from the generator the way the ground truth describes it."""
    from research_knowledge_graph_spark.sources.pages import _gen_doc

    nodes, edges = {}, set()
    for doc_id in DOCS:
        d = _gen_doc(doc_id, 1)
        paper = f"paper:{d['url']}"
        nodes[paper] = "paper"
        for etype, labels in d["entities"].items():
            for lbl in labels:
                nodes[f"{etype}:{lbl}"] = etype
                edges.add((paper, f"{etype}:{lbl}", "INTRODUCES"))
        for s, p, o in d["triples"]:
            if p in ("IMPROVES_ON", "COMPARES_WITH"):
                edges.add((f"method:{s}", f"method:{o}", p))
            elif p != "INTRODUCES":
                etype = {"USES_CONCEPT": "concept", "EVALUATES_ON": "dataset",
                         "EVALUATES_WITH": "metric"}[p]
                edges.add((paper, f"{etype}:{o}", p))
    ids = {src: f"{kind}:{key}" for (kind, key), src in truth.sources.items()}
    n = len(truth.sources)
    for code in truth.pairs:
        edges.add((ids[code // n], ids[code % n], "SIMILAR_TO"))
    return nodes, sorted(edges)


def counts(nodes: dict, edges: list) -> dict[str, int]:
    out: dict[str, int] = {}
    for t in nodes.values():
        out[f"nodes.{t}"] = out.get(f"nodes.{t}", 0) + 1
    for _, _, t in edges:
        out[f"edges.{t}"] = out.get(f"edges.{t}", 0) + 1
    return out


def test_unperturbed_graph_passes(truth, graph):
    nodes, edges = graph
    assert truth.edges["SIMILAR_TO"] > 0
    assert checks.compare_counts(truth.counts(), counts(nodes, edges)) == []


def test_dropped_edge_is_rejected(truth, graph):
    nodes, edges = graph
    for i in (0, len(edges) // 2, len(edges) - 1):
        assert checks.compare_counts(truth.counts(), counts(nodes, edges[:i] + edges[i + 1:]))


def test_relabelled_node_is_rejected(truth, graph):
    nodes, edges = graph
    some = next(k for k, t in nodes.items() if t == "concept")
    assert checks.compare_counts(truth.counts(), counts({**nodes, some: "dataset"}, edges))


def test_integrity_messages():
    assert checks.integrity_messages(0, 0) == []
    assert checks.integrity_messages(1, 0)
    assert checks.integrity_messages(0, 1)


def test_missing_pair_is_rejected(truth):
    assert checks.missing_pairs(truth.pairs, truth.pairs) == []
    assert checks.missing_pairs(truth.pairs, truth.pairs[1:])
    # extra pairs are allowed: the stream check asks for a superset
    assert checks.missing_pairs(truth.pairs[1:], truth.pairs) == []


ROWS = [(1, "a", 0.5), (2, "b", 1.25), (3, None, float("nan"))]


def test_query_rows_in_any_order_pass():
    shuffled = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert checks.compare_results("q", ["x", "y", "z"], ROWS, ["z", "x", "y"], shuffled) == []
    # float noise below the 6-place rounding is not a difference
    close = [(1, "a", 0.5 + 1e-9)] + ROWS[1:]
    assert checks.compare_results("q", ["x", "y", "z"], close, ["x", "y", "z"], ROWS) == []


@pytest.mark.parametrize(
    "altered",
    [
        [(1, "a", 0.5), (2, "b", 1.26), ROWS[2]],  # a value changed
        [(1, "a", 0.5), (2, "c", 1.25), ROWS[2]],  # a label changed
        ROWS[:2],  # a row lost
        ROWS + [ROWS[0]],  # a row duplicated
    ],
)
def test_altered_query_row_is_rejected(altered):
    assert checks.compare_results("q", ["x", "y", "z"], altered, ["x", "y", "z"], ROWS)


def test_renamed_column_and_empty_oracle_are_rejected():
    assert checks.compare_results("q", ["x", "y", "w"], ROWS, ["x", "y", "z"], ROWS)
    assert checks.compare_results("q", ["x"], [], ["x"], [])


def test_spark_graph_checks_reject_perturbed_tables(truth, graph):
    """The Spark aggregates the benchmark runs on the program's tables,
    over the rebuilt graph: one edge dropped, one node relabelled, one
    endpoint left dangling, one edge duplicated, one SIMILAR_TO pair lost."""
    pytest.importorskip("pyspark")
    import run as bench
    from pyspark.sql import SparkSession

    nodes, edges = graph
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        def node_df(rows):
            return spark.createDataFrame(
                [(k, t, k.split(":", 1)[1], k.split(":", 1)[1] if t == "paper" else None)
                 for k, t in rows.items()],
                "id string, node_type string, label string, url string",
            )

        def edge_df(rows):
            return spark.createDataFrame(rows, "from_node_id string, to_node_id string, edge_type string")

        n, e = node_df(nodes), edge_df(edges)
        assert checks.compare_counts(truth.counts(), bench.graph_counts(n, e)) == []
        assert bench.graph_integrity_counts(n, e) == (0, 0)
        codes = bench.similar_pair_codes(spark, n, e, truth)
        assert checks.missing_pairs(truth.pairs, codes) == []

        some = next(k for k, t in nodes.items() if t == "concept")
        assert checks.compare_counts(truth.counts(), bench.graph_counts(n, edge_df(edges[1:])))
        assert checks.compare_counts(
            truth.counts(), bench.graph_counts(node_df({**nodes, some: "dataset"}), e)
        )
        gone = edges[0][1]
        assert bench.graph_integrity_counts(
            node_df({k: t for k, t in nodes.items() if k != gone}), e
        )[0] > 0
        assert bench.graph_integrity_counts(n, edge_df(edges + [edges[0]]))[1] == 1
        pair = next(x for x in edges if x[2] == "SIMILAR_TO")
        lost = edge_df([x for x in edges if x != pair])
        assert checks.missing_pairs(truth.pairs, bench.similar_pair_codes(spark, n, lost, truth))
    finally:
        spark.stop()
