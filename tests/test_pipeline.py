"""Pipeline E2E: heuristic corpus run, fixture-mode reference parity
(including the silent-drop quirks), checkpoint-resume idempotency."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from research_knowledge_graph_spark.operators.extraction import (
    extract_mentions_fixture,
    extract_triples_fixture,
)
from research_knowledge_graph_spark.operators.linking import (
    build_edges,
    build_entity_nodes,
    build_paper_nodes,
)
from research_knowledge_graph_spark.operators.validation import (
    validate_mentions,
    validate_triples,
)
from research_knowledge_graph_spark.plans.pipeline import (
    _commit_concurrently,
    run_pipeline,
)
from research_knowledge_graph_spark.sources.pages import synthesize_pages


def test_pipeline_heuristic_e2e(spark, tmp_path):
    pages = synthesize_pages(spark, 80)
    res = run_pipeline(spark, pages, str(tmp_path / "kg"), mode="heuristic")

    nodes, edges = res.nodes, res.edges
    n_papers = nodes.filter(F.col("node_type") == "paper").count()
    assert n_papers == 80
    assert nodes.filter(F.col("node_type") == "method").count() > 0

    # every edge endpoint resolves to a node
    ids = nodes.select(F.col("id").alias("nid"))
    dangling = (
        edges.join(ids, edges.from_node_id == ids.nid, "left_anti").count()
        + edges.join(ids, edges.to_node_id == ids.nid, "left_anti").count()
    )
    assert dangling == 0

    etypes = {r.edge_type for r in edges.select("edge_type").distinct().collect()}
    assert "INTRODUCES" in etypes
    assert "SIMILAR_TO" in etypes  # cross-doc linking fired
    assert "EVALUATES_ON" in etypes

    # edge uniqueness invariant (from, to, type)
    dup = (
        edges.groupBy("from_node_id", "to_node_id", "edge_type")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0

    # lineage + metrics sidecars populated (6 checkpointed stages by default:
    # docs, mentions_valid, triples_valid, nodes, edges, cross_edges)
    assert res.lineage.count() >= 6
    assert res.metrics.filter(F.col("stage") == "nodes").count() > 0


def test_fixture_materialization_quirks(spark):
    """The reference silently drops relationships whose endpoints don't
    resolve in the per-doc entity dict (ingestion_service.py:154):

    - (title → 3D Gaussian Splatting, INTRODUCES): title is not an entity
      label → DROPPED
    - (GSA → Mip-NeRF 360, EVALUATES_ON): normalization rewrites the entity
      label to "Mip-nerf 360" ≠ raw endpoint "Mip-NeRF 360" → DROPPED
    - (GSA → PSNR, EVALUATES_WITH): both endpoints resolve → KEPT
    """
    docs = spark.createDataFrame(
        [("doc://a", "Paper A"), ("doc://b", "Paper B")], "url string, title string"
    )
    meta = docs.withColumn("abstract", F.lit("")).withColumn("year", F.lit(2024))
    mentions_v = validate_mentions(extract_mentions_fixture(docs))
    triples_v = validate_triples(extract_triples_fixture(docs))
    edges = build_edges(meta, mentions_v, triples_v)

    rel_edges = edges.filter(~F.col("edge_type").isin("INTRODUCES", "AUTHORED_BY"))
    kept = rel_edges.select("edge_type").distinct().collect()
    assert {r.edge_type for r in kept} == {"EVALUATES_WITH"}
    # one per (from,to,type) across ALL docs — canonical entities are shared
    assert rel_edges.count() == 1

    # 6 fixture entities per doc → INTRODUCES edges from each paper
    intro = edges.filter(F.col("edge_type") == "INTRODUCES")
    assert intro.count() == 12  # 2 docs × 6 entities

    # canonicalization shares entity nodes across docs
    nodes = build_paper_nodes(meta).unionByName(build_entity_nodes(mentions_v))
    assert nodes.filter(F.col("node_type") != "paper").count() == 6


def test_pipeline_minimal_checkpoint_matches_full(spark, tmp_path):
    """checkpoint_level="minimal" (executor-cache intermediates, only final
    tables committed) must produce the identical graph as "full"."""
    pages = synthesize_pages(spark, 60)
    r_full = run_pipeline(spark, pages, str(tmp_path / "kgf"), mode="heuristic")
    r_min = run_pipeline(
        spark, pages, str(tmp_path / "kgm"), mode="heuristic",
        checkpoint_level="minimal",
    )

    def edge_set(res):
        return sorted(
            (r.id, r.from_node_id, r.to_node_id, r.edge_type, r.confidence)
            for r in res.edges.collect()
        )

    def node_set(res):
        return sorted((r.id, r.node_type, r.label) for r in res.nodes.collect())

    assert edge_set(r_full) == edge_set(r_min)
    assert node_set(r_full) == node_set(r_min)
    # minimal mode still commits + records lineage for the final tables
    stages = {r.stage for r in r_min.lineage.collect()}
    assert {"nodes", "edges", "cross_edges"} <= stages
    assert "docs" not in stages


def test_pipeline_resume_idempotent(spark, tmp_path):
    """Re-running a committed pipeline reuses every stage snapshot and the
    output is byte-identical (deterministic ids)."""
    workdir = str(tmp_path / "kg2")
    pages = synthesize_pages(spark, 30)
    r1 = run_pipeline(spark, pages, workdir, mode="heuristic")
    edges1 = sorted(
        (r.id, r.from_node_id, r.to_node_id, r.edge_type)
        for r in r1.edges.collect()
    )
    lineage_rows_1 = r1.lineage.count()

    r2 = run_pipeline(spark, pages, workdir, mode="heuristic")
    edges2 = sorted(
        (r.id, r.from_node_id, r.to_node_id, r.edge_type)
        for r in r2.edges.collect()
    )
    assert edges1 == edges2
    # no stage re-committed → no new lineage rows
    assert r2.lineage.count() == lineage_rows_1
    # exactly one snapshot dir per stage
    snaps = os.listdir(os.path.join(workdir, "edges"))
    assert len(snaps) == 1


def test_cross_link_cached_matches_committed_readback(spark, tmp_path):
    """Pins the one divergence channel in the minimal+cross_link overlap:
    cross_link consumes the LAZILY-persisted logical nodes/edges frames
    while their parquet commits run concurrently (plans/pipeline.py stage
    6). If cached blocks are evicted mid-run, partitions recompute — so
    cross_edges being content-identical to what cross_link would produce
    from the COMMITTED tables rests on full-plan determinism. This test
    recomputes cross_link from the committed read-back and asserts
    byte-level identity with the committed cross_edges snapshot."""
    from research_knowledge_graph_spark.operators.linking import cross_link
    from research_knowledge_graph_spark.sources.table_io import TableIO

    workdir = str(tmp_path / "kgc")
    pages = synthesize_pages(spark, 60)
    run_pipeline(
        spark, pages, workdir, mode="heuristic", checkpoint_level="minimal",
        max_block_degree=200,
    )

    io = TableIO(spark, workdir)
    committed = sorted(
        (r.id, r.from_node_id, r.to_node_id, r.edge_type, r.confidence)
        for r in io.read("cross_edges").collect()
    )
    recomputed = sorted(
        (r.id, r.from_node_id, r.to_node_id, r.edge_type, r.confidence)
        for r in cross_link(
            io.read("nodes"), io.read("edges"), max_block_degree=200
        ).collect()
    )
    assert committed == recomputed


def test_pipeline_full_mode_reports_every_failed_commit(spark, tmp_path, monkeypatch):
    """Full mode commits nodes and edges from overlapped driver threads;
    when both commits fail, the raised error carries the second failure as
    a note instead of losing it."""
    from research_knowledge_graph_spark.sources.table_io import TableIO

    write_stage = TableIO.write_stage

    def failing(self, df, name, *a, **kw):
        if name in ("nodes", "edges"):
            raise RuntimeError(f"simulated {name} commit failure")
        return write_stage(self, df, name, *a, **kw)

    monkeypatch.setattr(TableIO, "write_stage", failing)
    with pytest.raises(RuntimeError, match="simulated nodes") as info:
        run_pipeline(
            spark, synthesize_pages(spark, 20), str(tmp_path / "kg"), mode="heuristic"
        )
    notes = getattr(info.value, "__notes__", [])
    assert any("also failed: stage edges" in n for n in notes), notes


def test_commit_concurrently_orders_and_skips_dependents():
    """A job listed in ``after`` starts only once its prerequisites have
    finished, and is skipped, not reported, when one of them failed."""
    release = threading.Event()
    seen = []

    def slow():
        assert release.wait(timeout=30)
        seen.append("slow")
        return 1

    def dependent():
        seen.append("dependent")
        return 2

    def go():
        release.set()
        return 3

    out = _commit_concurrently(
        {"slow": slow, "dependent": dependent, "go": go}, {"dependent": ("slow",)}
    )
    assert out == {"slow": 1, "dependent": 2, "go": 3}
    assert seen == ["slow", "dependent"]

    def boom():
        raise ValueError("prerequisite failed")

    with pytest.raises(ValueError, match="prerequisite failed") as info:
        _commit_concurrently(
            {"boom": boom, "dependent": dependent}, {"dependent": ("boom",)}
        )
    assert seen == ["slow", "dependent"]  # the dependent never ran
    assert not getattr(info.value, "__notes__", [])
