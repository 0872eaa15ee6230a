"""Incremental (batched continuous) ingestion: per-batch delta appends must
converge to the one-shot graph, idempotently."""

from __future__ import annotations

from pyspark.sql import functions as F

from research_knowledge_graph_spark.plans.pipeline import (
    run_pipeline,
    run_pipeline_incremental,
)
from research_knowledge_graph_spark.sources.pages import synthesize_pages


def _node_set(df):
    return sorted((r.id, r.node_type, r.label) for r in df.collect())


def _edge_struct(df):
    # structural comparison: id encodes (from, to, type); confidence for
    # constant-confidence types. Descriptive properties follow arrival
    # order in incremental mode (reference semantics) — excluded.
    return sorted(
        (r.id, r.from_node_id, r.to_node_id, r.edge_type) for r in df.collect()
    )


def test_incremental_converges_to_oneshot(spark, tmp_path):
    pages = synthesize_pages(spark, 90)
    batch_a = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    batch_b = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 1)
    batch_c = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 2)

    oneshot = run_pipeline(spark, pages, str(tmp_path / "full"), mode="heuristic")

    inc_dir = str(tmp_path / "inc")
    run_pipeline_incremental(spark, batch_a, inc_dir, "b1")
    run_pipeline_incremental(spark, batch_b, inc_dir, "b2")
    r3 = run_pipeline_incremental(spark, batch_c, inc_dir, "b3")

    assert _node_set(r3.nodes) == _node_set(oneshot.nodes)
    assert _edge_struct(r3.edges) == _edge_struct(oneshot.edges)


def test_incremental_rerun_and_duplicate_batch(spark, tmp_path):
    pages = synthesize_pages(spark, 40)
    inc_dir = str(tmp_path / "inc2")
    r1 = run_pipeline_incremental(spark, pages, inc_dir, "b1")
    n_edges = r1.edges.count()

    # re-running the SAME batch id is a committed no-op
    r2 = run_pipeline_incremental(spark, pages, inc_dir, "b1")
    assert r2.edges.count() == n_edges

    # a NEW batch of already-seen pages appends an empty delta
    r3 = run_pipeline_incremental(spark, pages, inc_dir, "b2")
    assert r3.edges.count() == n_edges
    assert _node_set(r3.nodes) == _node_set(r1.nodes)


def test_incremental_duplicate_url_within_batch(spark, tmp_path):
    """A batch may carry the same url twice (a re-crawl landing in two
    files drained by one micro-batch). Paper nodes are one row per input
    ROW, so the nodes commit must keep the intra-batch first-wins dedup:
    no duplicate node ids may ever land inside one snapshot (review
    finding on the assume_unique_key change)."""
    pages = synthesize_pages(spark, 30)
    doubled = pages.unionByName(pages)  # every url twice in ONE batch
    inc_dir = str(tmp_path / "inc_dup")
    r = run_pipeline_incremental(spark, doubled, inc_dir, "b1")
    assert r.nodes.count() == r.nodes.select("id").distinct().count()
    assert r.edges.count() == r.edges.select("id").distinct().count()
    # and the graph equals the unduplicated ingest
    r_clean = run_pipeline_incremental(
        spark, pages, str(tmp_path / "inc_clean"), "b1"
    )
    assert _node_set(r.nodes) == _node_set(r_clean.nodes)
    assert _edge_struct(r.edges) == _edge_struct(r_clean.edges)


def test_incremental_resume_after_mid_batch_crash(spark, tmp_path, monkeypatch):
    """ADVICE round-2 (medium): a crash BETWEEN the edges append and the
    cross_edges/edges_all commits must NOT make the batch re-run a no-op —
    the resume guard gates on the batch-complete marker (committed last),
    so the re-run walks the stages (already-landed appends skip via their
    own markers) and the batch's cross_edges delta is recovered."""
    import pytest

    import research_knowledge_graph_spark.plans.pipeline as P

    pages = synthesize_pages(spark, 40)
    b1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    b2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    inc_dir = str(tmp_path / "crash")
    run_pipeline_incremental(spark, b1, inc_dir, "b1")

    orig = P.L.cross_link_incremental

    def boom(*a, **kw):
        raise RuntimeError("simulated crash after edges append")

    monkeypatch.setattr(P.L, "cross_link_incremental", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline_incremental(spark, b2, inc_dir, "b2")
    monkeypatch.setattr(P.L, "cross_link_incremental", orig)

    r = run_pipeline_incremental(spark, b2, inc_dir, "b2")
    oneshot = run_pipeline(spark, pages, str(tmp_path / "full"), mode="heuristic")
    assert _edge_struct(r.edges) == _edge_struct(oneshot.edges)


def test_append_rows_deterministic_intra_batch_dedup(spark, tmp_path):
    """ADVICE round-2 (low): among intra-batch key duplicates the kept row
    is the MIN over orderable non-key columns (not dropDuplicates'
    arbitrary pick); map columns ride along with the winning row."""
    from research_knowledge_graph_spark.sources.table_io import TableIO

    io = TableIO(spark, str(tmp_path / "det"))
    df = spark.createDataFrame(
        [
            (1, "zzz", {"src": "zzz"}),
            (1, "aaa", {"src": "aaa"}),
            (2, "mmm", {"src": "mmm"}),
        ],
        "id int, val string, props map<string,string>",
    )
    io.append_rows(df, "t", ["id"], "b1")
    got = {(r.id, r.val, r.props["src"]) for r in io.read("t").collect()}
    assert got == {(1, "aaa", "aaa"), (2, "mmm", "mmm")}


def test_append_rows_assume_unique_key_skips_only_intra_batch(spark, tmp_path):
    """``assume_unique_key=True`` (used by the incremental pipeline for
    unique-by-construction deltas) must skip ONLY the intra-batch
    first-wins aggregate: the cross-snapshot anti-join still enforces
    first-insertion-wins against prior batches, and idempotent re-runs of
    a committed fingerprint stay no-ops."""
    from research_knowledge_graph_spark.sources.table_io import TableIO

    io = TableIO(spark, str(tmp_path / "uniq"))
    b1 = spark.createDataFrame([(1, "a"), (2, "c")], "id int, v string")
    assert io.append_rows(b1, "t", ["id"], "b1", assume_unique_key=True).count() == 2
    # second batch collides on id=2: existing row must win
    b2 = spark.createDataFrame([(2, "z"), (3, "d")], "id int, v string")
    assert io.append_rows(b2, "t", ["id"], "b2", assume_unique_key=True).count() == 3
    got = {(r.id, r.v) for r in io.read("t").collect()}
    assert got == {(1, "a"), (2, "c"), (3, "d")}
    # idempotent re-run of a committed batch fingerprint is a no-op
    assert io.append_rows(b2, "t", ["id"], "b2", assume_unique_key=True).count() == 3


def test_append_rows_concurrent_same_table(spark, tmp_path):
    """ADVICE round-2 (low): concurrent appends to ONE table serialize on a
    per-table lock — no snapshot path is dropped from the member list and
    first-wins holds across the racing batches (exactly one row per key)."""
    from concurrent.futures import ThreadPoolExecutor

    from research_knowledge_graph_spark.sources.table_io import TableIO

    io = TableIO(spark, str(tmp_path / "conc"))

    def append(i):
        df = spark.range(10).select(
            F.col("id").cast("int").alias("id"), F.lit(i).alias("src")
        )
        return io.append_rows(df, "t", ["id"], f"b{i}")

    with ThreadPoolExecutor(4) as ex:
        list(ex.map(append, range(4)))

    t = io.read("t")
    assert t.count() == 10  # every key exactly once across 4 racing batches
    assert t.select("id").distinct().count() == 10


def test_append_rows_auto_compaction(spark, tmp_path):
    """Verdict round-2 #7: compacting whenever the snapshot count passes a
    threshold (the incremental pipeline's batch-start maintenance) keeps the
    member-path list bounded across many batches; content identical to the
    union of all appends."""
    import json

    from research_knowledge_graph_spark.sources.table_io import TableIO

    io = TableIO(spark, str(tmp_path / "ac"))
    for i in range(20):
        if io.snapshot_count("t") > 4:
            io.compact("t", f"b{i}")
        df = spark.createDataFrame([(i, i * 10)], "id int, val int")
        io.append_rows(df, "t", ["id"], f"b{i}")

    with open(str(tmp_path / "ac") + "/_manifest.json") as f:
        n_paths = len(json.load(f)["tables"]["t"]["paths"])
    assert n_paths <= 5, n_paths
    got = sorted((r.id, r.val) for r in io.read("t").collect())
    assert got == [(i, i * 10) for i in range(20)]
    # expire half: superseded snapshot DIRS are deleted, not just dropped
    # from the manifest — disk usage stays bounded across many batches
    import os

    snap_dirs = [
        d for d in os.listdir(str(tmp_path / "ac" / "t")) if d.startswith("snap-")
    ]
    assert len(snap_dirs) <= 5, snap_dirs
    # the expire must NOT break deferred metrics: every appended delta's
    # per-partition counts are still readable at flush (regression: the
    # sweep once deleted paths queued in _pending → PATH_NOT_FOUND here)
    io.flush_metrics()
    assert io.metrics().count() > 0


def test_compact_preserves_content(spark, tmp_path):
    """Compaction rewrites N delta snapshots into one; contents unchanged."""
    import json

    from research_knowledge_graph_spark.sources.table_io import TableIO

    pages = synthesize_pages(spark, 60)
    inc_dir = str(tmp_path / "inc3")
    for i, pred in enumerate([0, 1, 2]):
        b = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == pred)
        run_pipeline_incremental(spark, b, inc_dir, f"b{i}")

    io = TableIO(spark, inc_dir)
    before = _edge_struct(io.read("edges"))
    with open(inc_dir + "/_manifest.json") as f:
        assert len(json.load(f)["tables"]["edges"]["paths"]) == 3

    io.compact("edges", "maintenance-1")
    with open(inc_dir + "/_manifest.json") as f:
        assert len(json.load(f)["tables"]["edges"]["paths"]) == 1
    assert _edge_struct(io.read("edges")) == before


def test_compact_spares_inflight_and_serializes_with_appends(spark, tmp_path):
    """ADVICE round-3 (medium): compact()'s expiry sweep must never delete a
    snapshot a concurrent writer has put on disk but not yet recorded in the
    manifest. (a) an in-flight write_stage dir is pinned by the in-flight
    set; (b) direct compact() calls racing append_rows on the same table
    serialize on the per-table lock — no append is lost."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from research_knowledge_graph_spark.sources.table_io import TableIO

    io = TableIO(spark, str(tmp_path / "race"))
    for i in range(3):
        io.append_rows(
            spark.createDataFrame([(i, i)], "id int, val int"), "t", ["id"], f"b{i}"
        )
    # (a) simulate a stage write mid-commit: dir on disk, manifest not yet
    inflight = str(tmp_path / "race" / "t" / "snap-deadbeef0000")
    os.makedirs(inflight)
    io._inflight.add(inflight)
    io.compact("t", "m1")
    assert os.path.isdir(inflight), "sweep deleted an in-flight snapshot"
    io._inflight.discard(inflight)
    os.rmdir(inflight)

    # (b) appends interleaved with compacts: final content = union of appends
    def append(i):
        io.append_rows(
            spark.createDataFrame([(100 + i, i)], "id int, val int"),
            "t",
            ["id"],
            f"c{i}",
        )

    def compact(i):
        io.compact("t", f"m2-{i}")

    with ThreadPoolExecutor(6) as ex:
        futs = [ex.submit(append, i) for i in range(4)]
        futs += [ex.submit(compact, i) for i in range(2)]
        for f in futs:
            f.result()
    got = sorted(r.id for r in io.read("t").collect())
    assert got == [0, 1, 2, 100, 101, 102, 103], got


def test_incremental_postings_table_matches_full_recompute(spark, tmp_path):
    """The incrementally-maintained corpus postings table (the cross-link's
    blocking input, appended per batch from the batch's own nodes/edges)
    must equal a from-scratch ``_postings(nodes, edges)`` over the committed
    graph after every batch — the invariant that lets the per-batch full
    edges × ent_nodes join be replaced by a narrow table scan."""
    from research_knowledge_graph_spark.operators.linking import _postings
    from research_knowledge_graph_spark.sources.table_io import TableIO

    pages = synthesize_pages(spark, 60)
    inc_dir = str(tmp_path / "postings_inv")
    io = TableIO(spark, inc_dir)
    for i in range(3):
        b = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i)
        run_pipeline_incremental(spark, b, inc_dir, f"b{i}")
        table = sorted(
            (bytes(r.paper_id), bytes(r.entity_id))
            for r in io.read("postings").collect()
        )
        full = sorted(
            (bytes(r.paper_id), bytes(r.entity_id))
            for r in _postings(io.read("nodes"), io.read("edges")).collect()
        )
        assert table == full
        assert len(table) == len(set(table))  # distinct by construction


def test_incremental_postings_backfill_older_dir(spark, tmp_path):
    """A graph dir created before the postings table existed (simulated by
    deleting the table's manifest entry) is backfilled on the next batch:
    the append writes the full posting set once, and the invariant holds."""
    import json

    from research_knowledge_graph_spark.operators.linking import _postings
    from research_knowledge_graph_spark.sources.table_io import TableIO

    pages = synthesize_pages(spark, 60)
    inc_dir = str(tmp_path / "postings_bf")
    b1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    b2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    run_pipeline_incremental(spark, b1, inc_dir, "b1")

    # simulate an older dir: drop the postings entries from the manifest
    mpath = inc_dir + "/_manifest.json"
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["tables"] = {
        k: v for k, v in manifest["tables"].items() if not k.startswith("postings")
    }
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    run_pipeline_incremental(spark, b2, inc_dir, "b2")
    io = TableIO(spark, inc_dir)
    table = sorted(
        (bytes(r.paper_id), bytes(r.entity_id))
        for r in io.read("postings").collect()
    )
    full = sorted(
        (bytes(r.paper_id), bytes(r.entity_id))
        for r in _postings(io.read("nodes"), io.read("edges")).collect()
    )
    assert table == full
