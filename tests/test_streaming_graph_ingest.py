"""Continuous crawl → knowledge graph (streaming/ingest.py::
run_streaming_graph_ingest): files dropped into a directory flow through
the FULL incremental pipeline via foreachBatch, exactly once; the graph
converges to the one-shot ingest of everything delivered, and re-running
the drained stream is a no-op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from research_knowledge_graph_spark.plans.pipeline import run_pipeline
from research_knowledge_graph_spark.sources.pages import synthesize_pages
from research_knowledge_graph_spark.streaming.ingest import (
    _ensure_local_dir,
    run_streaming_graph_ingest,
)
from research_knowledge_graph_spark.sources.table_io import TableIO


def _node_set(df):
    return sorted((r.id, r.node_type, r.label) for r in df.collect())


def _edge_struct(df):
    return sorted(
        (r.id, r.from_node_id, r.to_node_id, r.edge_type) for r in df.collect()
    )


def test_streaming_graph_ingest_converges(spark, tmp_path):
    pages = synthesize_pages(spark, 60)
    drop_a = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    drop_b = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)

    inp = str(tmp_path / "in")
    graph = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ck")

    # first file drop → drain → partial graph
    drop_a.write.mode("append").parquet(inp)
    run_streaming_graph_ingest(spark, inp, graph, ckpt)
    io = TableIO(spark, graph)
    n_after_a = io.read("edges_all").count()
    assert n_after_a > 0

    # second drop: only the NEW files are processed (stream checkpoint);
    # graph converges to the one-shot ingest of both drops
    drop_b.write.mode("append").parquet(inp)
    run_streaming_graph_ingest(spark, inp, graph, ckpt)

    oneshot = run_pipeline(spark, pages, str(tmp_path / "full"), mode="heuristic")
    got_nodes = _node_set(io.read("nodes"))
    got_edges = _edge_struct(io.read("edges_all"))
    assert got_nodes == _node_set(oneshot.nodes)
    assert got_edges == _edge_struct(oneshot.edges)

    # drained stream re-run: no new batches, graph unchanged
    run_streaming_graph_ingest(spark, inp, graph, ckpt)
    assert _edge_struct(io.read("edges_all")) == got_edges


@pytest.mark.parametrize(
    "spelling", ["{p}", "file:{p}", "file://{p}", "file://localhost{p}"]
)
def test_ensure_local_dir_creates_every_local_spelling(tmp_path, spelling):
    """Every spelling of a local landing dir gets created before the stream
    starts, including the RFC 8089 ``file://localhost/...`` form."""
    target = tmp_path / "landing"
    _ensure_local_dir(spelling.format(p=target))
    assert target.is_dir()


@pytest.mark.parametrize(
    "uri", ["s3a://bucket/landing", "file://otherhost/landing"]
)
def test_ensure_local_dir_leaves_remote_uris_alone(tmp_path, monkeypatch, uri):
    monkeypatch.chdir(tmp_path)
    _ensure_local_dir(uri)
    assert os.listdir(tmp_path) == []
