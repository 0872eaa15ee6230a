"""Extra benchmarks for optimization work (guide §1.4): NOT part of the
frozen driver contract — bench.py stays the measured surface.

Modes (first CLI arg):

- ``stream_profile``: replicate bench.py's ``_stream_bench`` drop loop but
  time each component separately — synthesize+write of the drop, stream
  startup/drain, and the per-stage timings dict of
  ``run_pipeline_incremental`` — so the per-drop fixed cost is attributed.
- ``pipeline_profile``: one batch pipeline run with the stage timings dict.
- ``noop <query> [query...]``: time entry queries with the noop sink,
  min-of-N, printing per-query seconds (isolated measurement for plan work).
- ``explain <query> [query...]``: write ``.explain('formatted')`` for the
  given queries to ``plans/r06/<query>_<tag>.txt`` (tag from $PLAN_TAG,
  default 'cur').
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK_ROOT = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _pin():
    try:
        n = min(os.cpu_count() or 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")) + 4)
        os.sched_setaffinity(0, set(range(n)))
    except (AttributeError, OSError):
        pass


def _spark():
    import research_knowledge_graph_spark as rkg

    return rkg.get_spark(app_name="rkg_bench_extra")


def stream_profile(n_docs: int = 12000, n_drops: int = 3) -> None:
    from pyspark.sql import functions as F

    from research_knowledge_graph_spark.plans import pipeline as P
    from research_knowledge_graph_spark.sources.pages import (
        default_vocab_scale,
        synthesize_pages,
    )
    from research_knowledge_graph_spark.sources.table_io import TableIO
    from research_knowledge_graph_spark.streaming.ingest import (
        run_streaming_graph_ingest,
    )

    spark = _spark()
    sdir = tempfile.mkdtemp(prefix="rkg_profile_stream_", dir=WORK_ROOT)

    # capture per-stage timings from inside run_pipeline_incremental by
    # monkey-patching a timings sink (profile-only; bench.py untouched)
    all_timings: list[dict] = []
    orig = P.run_pipeline_incremental

    def patched(spark_, new_pages, workdir, batch_id, **kw):
        t: dict = {}
        kw["timings"] = t
        t0 = time.time()
        out = orig(spark_, new_pages, workdir, batch_id, **kw)
        all_timings.append(
            {"batch": batch_id, "pipeline_total": round(time.time() - t0, 2), **t}
        )
        return out

    # streaming/ingest.py imports run_pipeline_incremental inside the call,
    # so patching the pipeline module is enough
    P.run_pipeline_incremental = patched

    try:
        inp, graph, ckpt = (os.path.join(sdir, d) for d in ("in", "graph", "ck"))
        spages = synthesize_pages(spark, n_docs, vocab_scale=default_vocab_scale(n_docs))
        drops = [
            spages.filter(F.pmod(F.xxhash64("url"), F.lit(n_drops)) == i)
            for i in range(n_drops)
        ]
        t_total0 = time.time()
        per_drop = []
        for i, d in enumerate(drops):
            t0 = time.time()
            d.write.mode("append").parquet(inp)
            t_write = time.time() - t0
            t0 = time.time()
            run_streaming_graph_ingest(spark, inp, graph, ckpt)
            t_drain = time.time() - t0
            per_drop.append(
                {"drop": i, "synth_write": round(t_write, 2), "drain": round(t_drain, 2)}
            )
        t0 = time.time()
        TableIO(spark, graph).read("edges_all").count()
        t_count = time.time() - t0
        total = time.time() - t_total0
        print(json.dumps({
            "mode": "stream_profile", "docs": n_docs, "drops": n_drops,
            "total": round(total, 2), "final_count": round(t_count, 2),
            "per_drop": per_drop, "stage_timings": all_timings,
        }, indent=1))
    finally:
        P.run_pipeline_incremental = orig
        shutil.rmtree(sdir, ignore_errors=True)


def pipeline_profile(n_docs: int = 20000, repeats: int = 2) -> None:
    from research_knowledge_graph_spark.plans.pipeline import run_pipeline
    from research_knowledge_graph_spark.sources.pages import (
        default_vocab_scale,
        synthesize_pages,
    )

    spark = _spark()
    pages = synthesize_pages(spark, n_docs, vocab_scale=default_vocab_scale(n_docs))
    runs = []
    for _ in range(repeats):
        workdir = tempfile.mkdtemp(prefix="rkg_profile_pipe_", dir=WORK_ROOT)
        timings: dict = {}
        try:
            t0 = time.time()
            res = run_pipeline(
                spark, pages, workdir, mode="heuristic", max_block_degree=200,
                checkpoint_level="minimal", timings=timings,
            )
            res.edges.count()
            runs.append({"total": round(time.time() - t0, 2), "stages": timings})
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        "mode": "pipeline_profile", "docs": n_docs, "runs": runs,
    }, indent=1))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def noop_queries(names: list[str], repeats: int | None = None) -> None:
    import __spark_entry__ as entry

    if repeats is None:
        repeats = int(os.environ.get("NOOP_REPEATS", "3"))
    spark = _spark()
    qs = entry.queries()
    if names == ["ALL"]:
        names = list(qs)
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    out = {}
    for name in names:
        best = float("inf")
        for _ in range(repeats):
            cache = getattr(entry, "_COUSE_CACHE", {})
            for df in cache.values():
                df.unpersist()
            cache.clear()
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        print(f"# {name}: {out[name]}s", file=sys.stderr)
    print(json.dumps({"mode": "noop", "repeats": repeats, "queries": out}))


def explain_queries(names: list[str]) -> None:
    import __spark_entry__ as entry

    tag = os.environ.get("PLAN_TAG", "cur")
    spark = _spark()
    qs = entry.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r06/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    _pin()
    mode = sys.argv[1] if len(sys.argv) > 1 else "stream_profile"
    if mode == "stream_profile":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 12000
        d = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        stream_profile(n, d)
    elif mode == "pipeline_profile":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
        pipeline_profile(n)
    elif mode == "noop":
        noop_queries(sys.argv[2:])
    elif mode == "explain":
        explain_queries(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {mode!r}")
