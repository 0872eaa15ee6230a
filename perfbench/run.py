#!/usr/bin/env python3
"""spark-kg benchmark: one workload per process, its own JVM.

    python3 perfbench/run.py --workload <batch_build|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
HEAP = "3g"

# batch_build: bench.py's pipeline settings over a seed-selected doc-id range
BATCH_DOCS = 2000
BATCH_CAP = 200
PIPELINE_KW = dict(mode="heuristic", max_block_degree=BATCH_CAP, checkpoint_level="minimal")
BATCH_MIN_ITERS = 2
# untimed warm-up: run_pipeline over a small corpus of the next doc ids
WARMUP_DOCS = 200
WARMUP_RUNS = 1

# stream_ingest: one fixed corpus, drop i = doc ids [STREAM_BOUNDS[i],
# STREAM_BOUNDS[i + 1]). Drop 0 is drained untimed as the warm-up. The cap
# is the default run_streaming_graph_ingest runs with; the hottest concept
# crosses it at doc 1739, inside drop 1.
STREAM_BOUNDS = (0, 1700, 2000)
STREAM_VOCAB_SCALE = 1
STREAM_CAP = 1000
PIPELINE_STAGES = (
    "nodes_delta", "edges_delta", "postings_delta", "cross_delta",
    "edges_all_union", "metrics_mark",
)
GRAPH_TABLES = ("nodes", "edges", "cross_edges", "postings")

# the query entries timed in a traced batch_build run: the ROADMAP's
# slowest entries first, then two light ones
QUERY_SCALE = 0.002
QUERY_ENTRIES = (
    "g15_connected_components", "g33_reciprocity", "g35_avg_neighbor_degree",
    "t40_bigram_nll_quality", "g06_shared_entity_pairs", "e02_embedding_near_dups",
    "g04_influence_topk", "t04_exact_dedup",
)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "graph_bytes": "bytes",
}
SPARK_GROUPS = ("extract_text", "cross_link", "pipeline", "drain", "suite")
SPARK_FIELDS = {
    "executor_run_s": "s", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "task_skew": "ratio",
}
PER_LAYER = {
    "html_text.extract_text_s": "s",
    "extraction.extract_s": "s",
    "validation.validate_s": "s",
    "extraction.mentions": "count",
    "extraction.triples": "count",
    "linking.build_nodes_s": "s",
    "linking.build_edges_s": "s",
    "linking.cross_link_s": "s",
    "linking.postings": "count",
    "linking.candidate_pairs": "count",
    "streaming.drain_s": "s",
    **{f"pipeline.{s}_s": "s" for s in PIPELINE_STAGES},
    "linking.cross_delta_rows": "count",
    **{f"table_io.snapshots.{t}": "count" for t in GRAPH_TABLES},
    "table_io.write_stage_s": "s",
    "table_io.commit_union_s": "s",
    "table_io.bytes_written": "bytes",
    **{f"query.{e}_s": "s" for e in QUERY_ENTRIES},
    "trace.op_s": "s",
    "process.peak_rss_mb": "MB",
    **{f"spark.{g}.{f}": u for g in SPARK_GROUPS for f, u in SPARK_FIELDS.items()},
}


class Run:
    """One benchmark process: its work directory, Spark session, spans and
    the operations it attempted."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.setup_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.spark = None
        self.spans = None

    @staticmethod
    def note(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def set_environment(self) -> None:
        """Before anything of the program is imported: its session reads
        these at import time, and the JVM and its Python workers inherit
        them."""
        os.makedirs(self.path("tmp"))
        os.environ.update(
            SPARK_GRAFT_CPUS=str(NPROC),
            SPARK_GRAFT_DRIVER_MEM=HEAP,
            SPARK_GRAFT_SHUFFLE_PARTITIONS=str(NPROC),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            TMPDIR=self.path("tmp"),
        )

    def start_spark(self):
        from observe import Spans

        tmp = self.path("tmp")
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
            conf["spark.eventLog.compress"] = "false"
        from research_knowledge_graph_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        self.spans = Spans(self.spark)
        return self.spark

    def setup_done(self) -> None:
        """Called just before the first timed operation."""
        from observe import process_age_s

        if self.setup_s is None:
            self.setup_s = process_age_s()

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM and every Python worker it
        forked to exit."""
        if self.spark is None:
            return
        from observe import descendants, wait_gone
        from pyspark import SparkContext

        started = descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        wait_gone(started, timeout=30)


def noop(df) -> None:
    """Compute every row and column of ``df`` and keep none of them."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def median(xs) -> float:
    return float(statistics.median(xs))


# -- graph checks ------------------------------------------------------------

def graph_counts(nodes, edges) -> dict[str, int]:
    out = {f"nodes.{t}": n for t, n in nodes.groupBy("node_type").count().collect()}
    out.update({f"edges.{t}": n for t, n in edges.groupBy("edge_type").count().collect()})
    return out


def graph_integrity_counts(nodes, edges) -> tuple[int, int]:
    """(edge endpoints with no node, surplus rows per (from, to, type))."""
    from pyspark.sql import functions as F

    ends = edges.select(F.explode(F.array("from_node_id", "to_node_id")).alias("id"))
    dangling = ends.join(nodes.select("id"), "id", "left_anti").count()
    dups = (
        edges.groupBy("from_node_id", "to_node_id", "edge_type").count()
        .agg(F.sum(F.col("count") - 1)).first()[0]
    )
    return dangling, int(dups or 0)


def similar_pair_codes(spark, nodes, edges, truth):
    """The program's SIMILAR_TO edges as ground-truth pair codes: node ids
    are mapped back to source indices through the paper url / method
    label each node carries."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    n = len(truth.sources)
    src = spark.createDataFrame(
        pd.DataFrame(
            [(k, key, i) for (k, key), i in truth.sources.items()],
            columns=["kind", "key", "idx"],
        )
    )
    ids = nodes.select(
        "id",
        F.col("node_type").alias("kind"),
        F.when(F.col("node_type") == "paper", F.col("url")).otherwise(F.col("label")).alias("key"),
    ).join(F.broadcast(src), ["kind", "key"])
    a = ids.select(F.col("id").alias("from_node_id"), F.col("idx").alias("a"))
    b = ids.select(F.col("id").alias("to_node_id"), F.col("idx").alias("b"))
    codes = (
        edges.filter(F.col("edge_type") == "SIMILAR_TO")
        .join(F.broadcast(a), "from_node_id")
        .join(F.broadcast(b), "to_node_id")
        .select((F.least("a", "b") * n + F.greatest("a", "b")).alias("c"))
    )
    return np.asarray(codes.toPandas()["c"], dtype=np.int64)


def check_graph(run: Run, graph_dir: str, truth) -> None:
    """The committed graph against the one-shot ground truth: every count,
    no dangling endpoint, unique (from, to, type)."""
    import checks
    from research_knowledge_graph_spark.sources.table_io import TableIO

    io = TableIO(run.spark, graph_dir)
    nodes, edges = io.read("nodes"), io.read("edges_all")
    run.problems += checks.compare_counts(truth.counts(), graph_counts(nodes, edges))
    run.problems += checks.integrity_messages(*graph_integrity_counts(nodes, edges))


# -- batch_build ---------------------------------------------------------------

def batch_build(run: Run) -> None:
    import corpus
    from research_knowledge_graph_spark.plans.pipeline import run_pipeline
    from research_knowledge_graph_spark.sources.pages import default_vocab_scale

    spark = run.start_spark()
    base = (run.args.seed % 100_000) * BATCH_DOCS
    ids = range(base, base + BATCH_DOCS)
    vs = default_vocab_scale(BATCH_DOCS)
    corpus.write_pages(run.path("pages"), ids, vs, n_files=NPROC)
    corpus.write_pages(
        run.path("warmup-pages"), range(base + BATCH_DOCS, base + BATCH_DOCS + WARMUP_DOCS),
        vs, n_files=NPROC,
    )
    warm = spark.read.parquet(run.path("warmup-pages"))
    for i in range(WARMUP_RUNS):
        run_pipeline(spark, warm, run.path(f"warmup{i}"), **PIPELINE_KW)
        shutil.rmtree(run.path(f"warmup{i}"))
    pages = spark.read.parquet(run.path("pages"))

    if run.trace:
        batch_layers(run, pages)
    # a traced run times one iteration: its layer probes already cost more
    times, graph = [], None
    min_iters, t_end = (1, 0) if run.trace else (BATCH_MIN_ITERS, time.monotonic() + run.args.seconds)
    while len(times) < min_iters or time.monotonic() < t_end:
        if graph is not None:
            shutil.rmtree(graph)
        graph = run.path(f"graph{len(times)}")
        run.setup_done()
        with run.spans("pipeline"):
            t0 = time.perf_counter()
            run_pipeline(spark, pages, graph, **PIPELINE_KW)
            times.append(time.perf_counter() - t0)
        run.attempted += 1
    run.e2e["graph_bytes"] = dir_bytes(graph)
    run.e2e["docs_per_s"] = BATCH_DOCS / median(times)
    run.note(f"run_pipeline seconds: {times}")
    run.layers["trace.op_s"] = median(times)
    check_graph(run, graph, corpus.ground_truth(ids, vs, BATCH_CAP))
    if run.trace:
        # the query surface has no workload of its own (see README): its
        # per-entry layer metrics are taken here, after the build
        measure_queries(run)


def batch_layers(run: Run, pages) -> None:
    """Stages 1-6 one by one under the noop sink, each over persisted
    inputs, then the three stage commits and the union commit."""
    from pyspark.sql import functions as F
    from research_knowledge_graph_spark.operators import extraction as X
    from research_knowledge_graph_spark.operators import html_text as H
    from research_knowledge_graph_spark.operators import linking as L
    from research_knowledge_graph_spark.operators import validation as V
    from research_knowledge_graph_spark.sources.table_io import TableIO

    spans, L_ = run.spans, run.layers
    keep = []

    def persist(df):
        df = df.persist()
        df.count()
        keep.append(df)
        return df

    pages = persist(pages)
    with spans("extract_text"):
        noop(H.extract_text(pages))
    docs = persist(
        H.extract_text(pages).select(
            "url", "warc_ts", F.col("extracted_text").alias("text"), "lang"
        )
    )
    with spans("extract"):
        for df in (X.extract_metadata(docs), X.extract_mentions_heuristic(docs),
                   X.extract_triples_heuristic(docs)):
            noop(df)
    meta = persist(X.extract_metadata(docs))
    mentions = persist(X.extract_mentions_heuristic(docs))
    triples = persist(X.extract_triples_heuristic(docs))
    L_["extraction.mentions"] = mentions.count()
    L_["extraction.triples"] = triples.count()
    with spans("validate"):
        noop(V.validate_mentions(mentions))
        noop(V.validate_triples(triples))
    mv, tv = persist(V.validate_mentions(mentions)), persist(V.validate_triples(triples))
    with spans("build_nodes"):
        noop(L.build_paper_nodes(meta).unionByName(L.build_entity_nodes(mv)))
    with spans("build_edges"):
        noop(L.build_edges(meta, mv, tv, resolve_titles=True))
    nodes = persist(L.build_paper_nodes(meta).unionByName(L.build_entity_nodes(mv)))
    edges = persist(L.build_edges(meta, mv, tv, resolve_titles=True))
    with spans("cross_link"):
        noop(L.cross_link(nodes, edges, BATCH_CAP))
    keys = nodes.filter(F.col("node_type").isin("concept", "method", "dataset")).select(
        F.col("id").alias("to_node_id")
    )
    L_["linking.postings"] = (
        edges.join(keys, "to_node_id").select("from_node_id", "to_node_id").distinct().count()
    )
    L_["linking.candidate_pairs"] = L.candidate_pairs(nodes, edges, BATCH_CAP).count()

    graph = run.path("layers-graph")
    io = TableIO(run.spark, graph)
    with spans("write_stage"):
        io.write_stage(nodes, "nodes", "layers", ["node_type"])
        io.write_stage(edges, "edges", "layers", None, ["edge_type"])
        io.write_stage(L.cross_link(nodes, edges, BATCH_CAP), "cross_edges", "layers")
    with spans("commit_union"):
        io.commit_union("edges_all", ["edges", "cross_edges"], "layers")
    L_["table_io.bytes_written"] = dir_bytes(graph)
    for df in keep:
        df.unpersist()
    shutil.rmtree(graph)
    for span, metric in (
        ("extract_text", "html_text.extract_text_s"), ("extract", "extraction.extract_s"),
        ("validate", "validation.validate_s"), ("build_nodes", "linking.build_nodes_s"),
        ("build_edges", "linking.build_edges_s"), ("cross_link", "linking.cross_link_s"),
        ("write_stage", "table_io.write_stage_s"), ("commit_union", "table_io.commit_union_s"),
    ):
        L_[metric] = sum(spans.seconds(span))


# -- stream_ingest -------------------------------------------------------------

def stream_ingest(run: Run) -> None:
    import corpus
    from research_knowledge_graph_spark.streaming.ingest import run_streaming_graph_ingest

    spark = run.start_spark()
    n_drops = len(STREAM_BOUNDS) - 1
    drops = [range(STREAM_BOUNDS[i], STREAM_BOUNDS[i + 1]) for i in range(n_drops)]
    for i, ids in enumerate(drops):
        corpus.write_pages(run.path("drops", str(i)), ids, STREAM_VOCAB_SCALE, n_files=1)
    truths = {}

    def truth(i):
        if i not in truths:
            truths[i] = corpus.ground_truth(
                range(STREAM_BOUNDS[0], STREAM_BOUNDS[i + 1]), STREAM_VOCAB_SCALE, STREAM_CAP
            )
        return truths[i]

    times, t_end, rnd = [], time.monotonic() + run.args.seconds, 0
    while rnd == 0 or time.monotonic() < t_end:
        landing, graph, ckpt = (run.path(f"r{rnd}", d) for d in ("landing", "graph", "ckpt"))
        os.makedirs(landing)
        for i in range(n_drops):
            # a drop lands as one file, renamed in so the file source never
            # sees it half written
            shutil.copy(run.path("drops", str(i), "part-00000.parquet"), run.path("incoming"))
            os.replace(run.path("incoming"), os.path.join(landing, f"drop-{i:03d}.parquet"))
            if i > 0:
                run.setup_done()
            with run.spans("drain" if i > 0 else "drain0"):
                t0 = time.perf_counter()
                run_streaming_graph_ingest(spark, landing, graph, ckpt)
                dt = time.perf_counter() - t0
            if i > 0:
                times.append(dt)
            stream_check(run, graph, truth(i), final=i == n_drops - 1)
        run.e2e["graph_bytes"] = dir_bytes(graph)
        shutil.rmtree(run.path(f"r{rnd}"))
        rnd += 1
    run.e2e["docs_per_s"] = rnd * (STREAM_BOUNDS[-1] - STREAM_BOUNDS[1]) / sum(times)
    run.note(f"drain seconds: {times}")
    if run.trace:
        run.layers["streaming.drain_s"] = median(times)
        run.layers["trace.op_s"] = median(times)
        stream_layers(run, drops, truth)


def stream_check(run: Run, graph: str, truth, final: bool) -> None:
    """One drop: it fails when its graph differs from the one-shot graph of
    the drops delivered so far. Only the SIMILAR_TO count may differ (the
    known over-linking of keys that cross the cap); any other count, or a
    one-shot pair missing after the last drop, makes the run incorrect."""
    import checks
    from research_knowledge_graph_spark.sources.table_io import TableIO

    run.attempted += 1
    io = TableIO(run.spark, graph)
    nodes, edges = io.read("nodes"), io.read("edges_all")
    diff = checks.compare_counts(truth.counts(), graph_counts(nodes, edges))
    if diff:
        run.failed += 1
        run.problems += [d for d in diff if not d.startswith("edges.SIMILAR_TO:")]
    if final:
        run.problems += checks.missing_pairs(
            truth.pairs, similar_pair_codes(run.spark, nodes, edges, truth)
        )


def stream_layers(run: Run, drops, truth) -> None:
    """The same drops through ``run_pipeline_incremental`` called directly,
    with its ``timings=`` per stage."""
    import pyarrow.parquet as pq
    from research_knowledge_graph_spark.plans.pipeline import run_pipeline_incremental
    from research_knowledge_graph_spark.sources.table_io import TableIO

    graph = run.path("layers-graph")
    per_stage: dict[str, list[float]] = {s: [] for s in PIPELINE_STAGES}
    for i in range(len(drops)):
        timings: dict[str, float] = {}
        pages = run.spark.read.parquet(run.path("drops", str(i)))
        run_pipeline_incremental(run.spark, pages, graph, batch_id=f"drop{i}", timings=timings)
        if i > 0:
            for s in PIPELINE_STAGES:
                per_stage[s].append(timings.get(s, 0.0))
        stream_check(run, graph, truth(i), final=i == len(drops) - 1)
    for s, xs in per_stage.items():
        run.layers[f"pipeline.{s}_s"] = median(xs)
    io = TableIO(run.spark, graph)
    for t in GRAPH_TABLES:
        run.layers[f"table_io.snapshots.{t}"] = io.snapshot_count(t)
    metrics = pq.read_table(os.path.join(graph, "_metrics")).to_pydict()
    run.layers["linking.cross_delta_rows"] = sum(
        r for r, s in zip(metrics["rows"], metrics["stage"]) if s == "cross_edges"
    )


# -- query entries (traced batch_build runs) ----------------------------------

def load_entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def reset_entry_caches(m) -> None:
    """Drop the co-usage pair cache g06 fills, so every pass computes it."""
    cache = getattr(m, "_COUSE_CACHE", {})
    for df in cache.values():
        df.unpersist()
    cache.clear()


def measure_queries(run: Run) -> None:
    """The entry list over seeded tables: one untimed pass that collects
    every entry's rows (checked against the DuckDB oracles afterwards),
    then one timed pass under the noop sink, entry by entry."""
    import tables

    spark, tdir = run.spark, run.path("tables")
    tables.write_tables(tdir, run.args.seed, QUERY_SCALE)
    m = load_entry_module()
    qs = m.queries()
    got = {}
    for name in QUERY_ENTRIES:
        reset_entry_caches(m)
        df = qs[name](spark, tdir)
        got[name] = (df.columns, [tuple(r) for r in df.collect()])
    with run.spans("suite"):
        for name in QUERY_ENTRIES:
            reset_entry_caches(m)
            t0 = time.perf_counter()
            noop(qs[name](spark, tdir))
            run.layers[f"query.{name}_s"] = time.perf_counter() - t0
    reset_entry_caches(m)
    run.problems += oracle_problems(tdir, m.oracle_sql(), got)


def oracle_problems(tdir: str, oracles: dict[str, str], got: dict) -> list[str]:
    import checks
    import duckdb
    import tables

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={NPROC}")
        con.execute(f"SET temp_directory='{os.path.join(tdir, 'duckdb-tmp')}'")
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tdir, t)}.parquet'")
        out = []
        for name, (cols, rows) in got.items():
            rel = con.sql(oracles[name])
            out += checks.compare_results(name, cols, rows, rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


WORKLOADS = {
    "batch_build": batch_build,
    "stream_ingest": stream_ingest,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "research_knowledge_graph_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from observe import RssSampler, read_event_log, spark_group_metrics

    run = Run(args)
    try:
        run.set_environment()
        with RssSampler() as rss:
            try:
                WORKLOADS[args.workload](run)
            finally:
                run.stop_spark()
        if run.trace:
            groups = spark_group_metrics(read_event_log(run.path("eventlog")), run.spans)
            for g in SPARK_GROUPS:
                for f in SPARK_FIELDS:
                    run.layers[f"spark.{g}.{f}"] = groups.get(g, {}).get(f, 0)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass
    run.e2e["setup_s"] = run.setup_s
    run.layers["process.peak_rss_mb"] = rss.peak_mb
    for p in run.problems:
        run.note(p)
    units = PER_LAYER if run.trace else END_TO_END
    values = run.layers if run.trace else run.e2e
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
