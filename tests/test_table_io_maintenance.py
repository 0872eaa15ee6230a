"""TableIO maintenance semantics added by the round-5 core-path review:
schema-evolution-tolerant appends, manifest marker pruning, stage re-commit
snapshot expiry, and checkpoint-scoped streaming batch identity."""

from __future__ import annotations

import json
import os

from research_knowledge_graph_spark.sources.table_io import TableIO


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_rows_tolerates_snapshot_schema_evolution(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    io.append_rows(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        "tbl", ["id"], "b1",
    )
    # a later snapshot gains a column: simulate by committing a wider delta
    # directly as a second member path (what schema evolution produces)
    manifest = io._load_manifest()
    wide = str(tmp_path / "t" / "tbl" / "snap-wide")
    spark.createDataFrame(
        [(2, "b", 7)], "id long, v string, extra long"
    ).write.parquet(wide)
    manifest["tables"]["tbl"]["paths"].append(wide)
    io._commit_manifest(manifest)
    # the anti-join unions KEY projections only, so the mixed-schema
    # member list must not break the next append
    out = io.append_rows(
        spark.createDataFrame([(2, "dup"), (3, "c")], "id long, v string"),
        "tbl", ["id"], "b2",
    )
    assert sorted(r["id"] for r in out.select("id").collect()) == [1, 2, 3]


def test_marker_pruning_bounds_manifest(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    # pure-function check on the pruning rule itself
    manifest = {"tables": {}}
    for i in range(300):
        manifest["tables"][f"tbl@b{i:04d}"] = {
            "path": None, "fingerprint": f"b{i:04d}",
            "committed_at": f"2026-01-01T00:{i // 60:02d}:{i % 60:02d}Z",
        }
    manifest["tables"]["tbl"] = {"path": "p", "fingerprint": "x",
                                 "committed_at": "2026-01-02T00:00:00Z"}
    TableIO._prune_markers(manifest, keep=256)
    markers = [n for n in manifest["tables"] if "@" in n]
    assert len(markers) == 256
    # the NEWEST markers survive; non-marker entries are untouched
    assert "tbl@b0299" in manifest["tables"]
    assert "tbl@b0000" not in manifest["tables"]
    assert "tbl" in manifest["tables"]
    # and the live path applies it: a real append + mark keeps the manifest
    # marker count bounded (trivially under the cap here, just exercising it)
    io.append_rows(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        "tbl", ["id"], "bN",
    )
    io.mark("batch_complete@bN", "bN")
    m = json.load(open(io._manifest_path))
    assert "tbl@bN" in m["tables"] and "batch_complete@bN" in m["tables"]


def test_write_stage_recommit_expires_orphan_snapshot(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    io.write_stage(df, "stage", "fp1")
    io.flush_metrics()
    old_path = io._load_manifest()["tables"]["stage"]["path"]
    assert os.path.isdir(old_path)
    io.write_stage(
        spark.createDataFrame([(2, "b")], "id long, v string"), "stage", "fp2"
    )
    io.flush_metrics()
    new_path = io._load_manifest()["tables"]["stage"]["path"]
    assert new_path != old_path
    # the superseded snapshot is expired; the committed table still reads
    assert not os.path.exists(old_path)
    assert _rows(io.read("stage")) == [(2, "b")]
    # a snapshot still referenced by a union commit is NEVER swept
    io.write_stage(df, "member", "fp1")
    member_path = io._load_manifest()["tables"]["member"]["path"]
    io.commit_union("union_tbl", ["member", "stage"], "fpU")
    io.write_stage(
        spark.createDataFrame([(3, "c")], "id long, v string"), "member", "fp2"
    )
    # old member snapshot is pinned by union_tbl's path list
    assert os.path.isdir(member_path)
    assert _rows(io.read("union_tbl")) == [(1, "a"), (2, "b")]


def test_recreated_checkpoint_does_not_skip_new_files(spark, tmp_path):
    """The silent-skip hazard: run 1 ingests file A as epoch 0 under
    checkpoint ck1; ck1 is lost; run 2 (fresh checkpoint ck2) re-delivers
    {A, B} as ITS epoch 0 into the same graph_dir. With bare-epoch batch
    ids the old batch_complete@epoch0 marker no-ops the batch and B is
    never ingested; stream-id-scoped markers make it a full idempotent
    reprocess instead."""
    from pyspark.sql import functions as F

    from research_knowledge_graph_spark.sources.pages import synthesize_pages
    from research_knowledge_graph_spark.streaming.ingest import (
        run_streaming_graph_ingest,
    )

    pages = synthesize_pages(spark, 30)
    file_a = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    file_b = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    inp = str(tmp_path / "in")
    graph = str(tmp_path / "graph")
    os.makedirs(inp, exist_ok=True)
    file_a.write.mode("append").parquet(inp)
    run_streaming_graph_ingest(spark, inp, graph, str(tmp_path / "ck1"))
    io = TableIO(spark, graph)
    n_after_a = io.read("nodes").count()
    # checkpoint lost: new lineage re-delivers everything as epoch 0
    file_b.write.mode("append").parquet(inp)
    run_streaming_graph_ingest(spark, inp, graph, str(tmp_path / "ck2"))
    n_after_b = TableIO(spark, graph).read("nodes").count()
    # B's nodes landed (A's re-delivery was an idempotent no-op on the data)
    assert n_after_b > n_after_a
    oneshot = str(tmp_path / "oneshot")
    run_streaming_graph_ingest(
        spark, inp, oneshot, str(tmp_path / "ck3")
    )
    assert TableIO(spark, oneshot).read("nodes").count() == n_after_b


def test_incremental_ingest_before_first_drop(spark, tmp_path):
    from research_knowledge_graph_spark.streaming.ingest import (
        run_incremental_ingest,
    )

    inp = str(tmp_path / "never_created")
    run_incremental_ingest(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    assert os.path.isdir(inp)  # landing dir created, zero files drained
