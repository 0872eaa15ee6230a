"""The end-to-end KG-construction pipeline (reference ``main.py ingest``).

Stages (each a committed snapshot = checkpoint boundary; re-runs skip
committed stages — the idempotency contract):

1. ``docs``          pages → extracted text (byte-identical invariant)
2. ``metadata``      + mention/triple extraction (fixture | heuristic)
3. ``mentions_valid`` / ``triples_valid``  validation + normalization
4+5. ``nodes`` / ``edges``   exact-label canonicalization + materialization
6. ``cross_edges``   shared-entity blocking + pair scoring
7. ``edges_all``     final edge table (intra ∪ cross)

Stages 1-5 are one core (``_build_batch``) shared by the one-shot
``run_pipeline`` and the per-batch ``run_pipeline_incremental``; the two
differ only in their checkpoint policy and in how stages 6-7 commit.

Reference flow: ``src/main.py:124-141`` →
``ingestion_service.ingest_paper`` (per-paper sequential) →
``graph_service.link_cross_paper_relationships_pruned_2``. Here every stage
is one partition-parallel DataFrame job; the per-paper loop disappears.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from research_knowledge_graph_spark.operators import extraction as X
from research_knowledge_graph_spark.operators import html_text as H
from research_knowledge_graph_spark.operators import linking as L
from research_knowledge_graph_spark.operators import validation as V
from research_knowledge_graph_spark.sources.table_io import TableIO

# an incremental batch compacts every delta-appended table holding more than
# this many snapshots before it starts — N batches otherwise mean N-way
# union reads forever
COMPACT_ABOVE = 8


@dataclass
class PipelineResult:
    nodes: DataFrame
    edges: DataFrame
    metrics: DataFrame
    lineage: DataFrame


def _make_timed(timings: dict | None):
    """Shared per-boundary wall-clock recorder for both pipeline variants:
    each materialization boundary's elapsed seconds land under its stage
    name in ``timings`` (no-op recorder when ``timings`` is None)."""

    def _timed(name, fn, *a, **kw):
        t0 = time.time()
        out = fn(*a, **kw)
        if timings is not None:
            timings[name] = round(time.time() - t0, 2)
        return out

    return _timed


def _persist(df: DataFrame, cached: list[DataFrame]) -> DataFrame:
    """Executor-local cache (MEMORY_AND_DISK), populated on FIRST TOUCH by
    whichever downstream job scans it first — concurrent consumers racing
    on the same partitions are deduped by the block manager's per-block
    locks, so the race costs nothing and the stage's compute overlaps its
    consumers' other work. An eager ``.count()`` materialization pass would
    serialize the stage's full compute BEFORE any consumer starts —
    measured +70% pipeline wall time on stage 6 in round 4 and +9% total
    when stages 1-3 were eager-counted (round-5 A/B, 20k docs: 13.7s eager
    → 12.5s first-touch). ``cached`` collects the frame so the caller can
    unpersist it in a ``finally``: a failed run must not leave full-table
    persists pinned in a long-lived session (streaming/incremental
    services reuse one)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached.append(df)
    return df


def _commit_concurrently(
    jobs: dict[str, Callable[[], object]],
    after: dict[str, tuple[str, ...]] | None = None,
) -> dict[str, object]:
    """Run the named commit jobs from concurrent driver threads, so their
    Spark jobs overlap (the scheduler interleaves their tasks), and return
    their results by name.

    A job listed in ``after`` starts only once every job it names (each
    earlier in ``jobs``) has finished, and is skipped if one of them
    failed — that failure is reported already. Every failure is gathered:
    a commit error must not mask the likelier compute error of a
    concurrent cross-link job, so the first is raised with an ``also
    failed: stage <name>`` note for each of the rest."""
    after = after or {}
    futs = {}

    def run(name):
        if any(futs[dep].exception() is not None for dep in after.get(name, ())):
            return None
        return jobs[name]()

    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        for name in jobs:
            futs[name] = ex.submit(run, name)
    errs = [(n, e) for n, f in futs.items() if (e := f.exception()) is not None]
    if errs:
        first = errs[0][1]
        for name, exc in errs[1:]:
            first.add_note(f"also failed: stage {name}: {exc!r}")
        raise first
    return {name: f.result() for name, f in futs.items()}


def _build_batch(
    io: TableIO,
    fp: str,
    pages: DataFrame,
    mode: str,
    timed,
    cached: list[DataFrame],
    full: bool = False,
    canonicalize: str = "exact",
) -> tuple[DataFrame, DataFrame]:
    """Stages 1-5 over ``pages``; returns the lazy (nodes, edges) frames.

    ``full``: every boundary is a committed snapshot (``io.write_stage``
    under ``fp``) and the two validation streams commit from overlapped
    driver threads. Otherwise each boundary is a first-touch cache
    (:func:`_persist`) and validation FUSES with extraction into the
    consuming jobs: ``mentions_valid`` is cached (nodes + edges both scan
    it), ``triples_valid`` has one consumer (``build_edges``) and stays
    fully lazy.

    The raw extraction streams (mentions / raw triples) are never
    checkpointed: extraction is a map-only recompute from ``docs``, so
    writing + re-reading 10¹² raw mention rows costs more than
    re-deriving them; checkpoints sit at the expensive boundaries (html
    decode, post-shuffle validation, graph materialization)."""

    def stage(df: DataFrame, name: str) -> DataFrame:
        return io.write_stage(df, name, fp) if full else _persist(df, cached)

    # stage 1: text extraction (map-only, Arrow UDF); three downstream
    # consumers scan it
    docs = timed(
        "docs",
        stage,
        H.extract_text(pages).select(
            "url", "warc_ts", F.col("extracted_text").alias("text"), "lang"
        ),
        "docs",
    )

    # stage 2: extraction. metadata has TWO consumers (nodes, edges) and is
    # checkpointed; the single-consumer streams stay lazy
    meta = timed("metadata", stage, X.extract_metadata(docs), "metadata")
    if mode == "fixture":
        mentions = X.extract_mentions_fixture(docs)
        triples = X.extract_triples_fixture(docs.join(meta.select("url", "title"), "url"))
    else:
        mentions = X.extract_mentions_heuristic(docs)
        triples = X.extract_triples_heuristic(docs)

    # stage 3: validation/normalization
    if full:
        valid = _commit_concurrently({
            "mentions_valid": lambda: timed(
                "mentions_valid", io.write_stage,
                V.validate_mentions(mentions), "mentions_valid", fp,
            ),
            "triples_valid": lambda: timed(
                "triples_valid", io.write_stage,
                V.validate_triples(triples), "triples_valid", fp,
            ),
        })
        mentions_v, triples_v = valid["mentions_valid"], valid["triples_valid"]
    else:
        mentions_v = timed(
            "mentions_valid", stage, V.validate_mentions(mentions), "mentions_valid"
        )
        triples_v = V.validate_triples(triples)

    # stage 3b (optional): fuzzy alias clustering — mentions keep their
    # surface label (it is the triple-endpoint resolution key);
    # canonical_label drives node identity downstream
    if canonicalize == "fuzzy":
        from research_knowledge_graph_spark.operators.canonicalize import (
            canonicalize_fuzzy,
        )

        fuzzy = canonicalize_fuzzy(mentions_v).select(
            "url", "seq", "entity_type", "label", "description", "properties",
            "canonical_label",
        )
        mentions_v = stage(fuzzy, "mentions_canonical")

    # stages 4+5: canonicalize + materialize
    nodes = L.build_paper_nodes(meta).unionByName(L.build_entity_nodes(mentions_v))
    edges = L.build_edges(meta, mentions_v, triples_v, resolve_titles=(mode != "fixture"))
    return nodes, edges


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    mode: str = "heuristic",
    run_fingerprint: str = "r1",
    cross_link: bool = True,
    max_block_degree: int | None = 1000,
    canonicalize: str = "exact",
    checkpoint_level: str = "full",
    timings: dict | None = None,
    dedup_urls: bool = False,
) -> PipelineResult:
    """Run (or resume) the full pipeline over a pages table.

    ``dedup_urls``: apply latest-crawl-wins URL-level dedup
    (``operators/web.py::url_dedup``) to ``pages`` before stage 1 — the
    Common-Crawl front door, where the same logical page arrives under
    many URL spellings and recrawl timestamps. Off by default: the
    synthetic corpus has unique URLs (the stage would be a pure extra
    shuffle there), and a corpus already deduped upstream shouldn't pay
    it twice. On a real CC ingest this is the first stage you turn on.

    ``run_fingerprint`` keys checkpoint identity: same fingerprint ⇒
    committed stages are skipped on re-run.

    ``canonicalize``: ``"exact"`` (reference parity — entities merge on
    exact normalized label, ``ingestion_service.py:105-129``) or ``"fuzzy"``
    (scale path: MinHash-LSH → connected components → broadcast alias
    dictionary rewrites each mention's label to its cluster canonical before
    materialization).

    ``checkpoint_level``:

    - ``"full"`` (default): every stage is a committed snapshot — resume
      restarts at any stage boundary. The right mode for long multi-day
      ingest jobs where executor loss is routine.
    - ``"minimal"``: only the FINAL tables (nodes, edges, cross_edges,
      edges_all) are committed; intermediates (docs, metadata,
      mentions_valid) live in the executor block-manager cache
      (MEMORY_AND_DISK) instead of being written + re-read through shared
      storage. Caches are executor-local, so this path's IO scales with
      cluster size, where a stage write through one storage endpoint does
      not — measured: it is what closes the N→4N scaling-efficiency gap on
      a single host, and on a real cluster it removes 4 full-table round
      trips to the object store. Tradeoff: a failure re-runs from the pages
      scan (lineage recompute), not from the last stage snapshot.

    ``timings``: optional dict; each materialization boundary records its
    wall-clock seconds under the stage name (``scaling_bench.py`` uses this
    for the per-stage N-vs-4N efficiency table). Lazy stages FUSE into their
    consumer's job — e.g. in minimal mode triple validation is computed
    inside the ``edges`` write — so a fused stage's cost lands on the
    consuming entry, and overlapped driver-thread stages (``nodes``/
    ``edges``) each report their own wall time, which may overlap.
    """
    io = TableIO(spark, workdir)
    # dedup_urls is part of checkpoint identity: it changes what stage 1
    # reads, so a re-run that toggles it must NOT reuse stages committed
    # under the other setting (they'd silently carry the other corpus)
    fp = f"{run_fingerprint}:{mode}:{canonicalize}" + (":urldedup" if dedup_urls else "")
    minimal = checkpoint_level == "minimal"
    if dedup_urls:
        from research_knowledge_graph_spark.operators.web import url_dedup

        # one hash-agg shuffle on canonical_url (map-side combined);
        # downstream stages see the exact pages schema they always did
        pages = url_dedup(pages).select(*pages.columns)
    timed = _make_timed(timings)
    cached: list[DataFrame] = []
    try:
        nodes_df, edges_df = _build_batch(
            io, fp, pages, mode, timed, cached,
            full=not minimal, canonicalize=canonicalize,
        )
        # write-through-cache commit (round-3 verdict #8): in minimal mode
        # nodes/cross_edges were the laggard stages in the N-vs-4N table
        # because their wall time is dominated by snapshot commits through
        # ONE shared disk — a flat term parallelism can't shrink. Persist
        # nodes/edges LAZILY and run all THREE stage-6 jobs concurrently:
        # the writes populate the cache as a side effect, and the cross-link
        # blocking self-join (compute-heavy, scales with cores) overlaps the
        # two commit-bound parquet writes instead of waiting for them.
        # cross_link consumes the CACHED logical tables — content-identical
        # to the committed read-back (deterministic ids), pinned by the
        # pipeline E2E tests.
        overlap = minimal and cross_link
        if overlap:
            nodes_df, edges_df = _persist(nodes_df, cached), _persist(edges_df, cached)
        # nodes partitioned by type — type filters become partition pruning,
        # reference B-tree on node_type; edges cluster-by-sort instead: the
        # dynamic-partition write tripled stage cost on the 7M-row table
        commits = {
            "nodes": lambda: timed(
                "nodes", io.write_stage, nodes_df, "nodes", fp, ["node_type"]
            ),
            "edges": lambda: timed(
                "edges", io.write_stage, edges_df, "edges", fp, None, ["edge_type"]
            ),
        }
        if overlap:
            # planned inside its thread, so plan analysis overlaps the
            # nodes/edges writes instead of delaying their start
            commits["cross_edges"] = lambda: timed(
                "cross_edges", io.write_stage,
                L.cross_link(nodes_df, edges_df, max_block_degree),
                "cross_edges", fp,
            )
        out = _commit_concurrently(commits)
        if cross_link and not overlap:
            # full mode keeps the committed read-back as cross_link's input —
            # the resume contract (a restart recomputes nothing before the
            # last snapshot)
            timed(
                "cross_edges", io.write_stage,
                L.cross_link(out["nodes"], out["edges"], max_block_degree),
                "cross_edges", fp,
            )
        # stage 7: the final edge table is a zero-copy union commit
        # (Iceberg-append semantics): rewriting all intra-doc edges just to
        # co-locate the cross edges would be the pipeline's largest IO cost
        # at scale, for no query benefit
        members = ["edges", "cross_edges"] if cross_link else ["edges"]
        edges_all = timed("edges_all", io.commit_union, "edges_all", members, fp)
        io.flush_metrics()
    finally:
        for df in cached:
            df.unpersist()
    return PipelineResult(
        nodes=out["nodes"], edges=edges_all, metrics=io.metrics(), lineage=io.lineage()
    )


def run_pipeline_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    workdir: str,
    batch_id: str,
    mode: str = "heuristic",
    cross_link: bool = True,
    max_block_degree: int | None = 1000,
    timings: dict | None = None,
) -> PipelineResult:
    """Ingest ONE batch of new pages into an existing graph — the engine's
    analog of the reference's continuous per-paper ingest loop
    (``src/main.py:124-141``), batched and delta-only:

    - stages 1-3 run over the new pages only (cached, minimal-checkpoint
      style — a batch is small relative to the corpus);
    - nodes/edges merge with FIRST-INSERTION-WINS semantics (existing rows
      win on key collision — ``ingestion_service.py:105-129``'s
      find-or-create, and the swallowed duplicate-edge insert): each batch
      appends an anti-joined DELTA snapshot, never rewrites the table
      (``TableIO.append_rows``);
    - cross-linking enumerates only pairs touching a posting asserted by
      this batch's edges (``linking.cross_link_incremental``) — per batch
      O(batch × degree), not O(corpus²);
    - re-running a committed ``batch_id`` is a no-op (idempotent resume):
      the early return gates on a ``batch_complete`` marker committed AFTER
      the last artifact (``edges_all``) — a crash anywhere mid-batch makes
      the re-run walk every stage, where per-stage ``append_rows`` markers
      skip the ones that already landed (an edges-only guard would lose the
      batch's cross_edges delta and leave edges_all stale after a crash
      between the two);
    - a table holding more than ``COMPACT_ABOVE`` delta snapshots is
      compacted to one file set (``TableIO.compact``) at batch start.

    Structural output (node/edge ids, types, labels) equals a one-shot
    ingest of the concatenated corpus; descriptive PROPERTIES follow
    arrival order (the reference's semantics), where one-shot uses the
    deterministic (url, seq) order as the arrival stand-in.
    """
    io = TableIO(spark, workdir)
    fp = f"batch:{batch_id}:{mode}"

    timed = _make_timed(timings)

    if io.is_committed(f"batch_complete@{fp}", fp):
        # whole batch already ingested (marker is committed LAST — after
        # cross_edges and the edges_all union — so a mid-batch crash never
        # short-circuits the re-run)
        return PipelineResult(
            nodes=io.read("nodes"), edges=io.read("edges_all"),
            metrics=io.metrics(), lineage=io.lineage(),
        )

    cached: list[DataFrame] = []
    try:
        # stages 1-3 only persist lazily here, so they have no boundary of
        # their own to time: a batch's timings are its commits
        batch_nodes, batch_edges = _build_batch(
            io, fp, new_pages, mode, _make_timed(None), cached
        )
        # batch nodes/edges each feed two jobs (their own delta commit + the
        # cross-link postings) — persisted so build_edges' three shuffles and
        # the node aggregate run once, not per consumer (reused AND
        # expensive to recompute)
        batch_nodes = _persist(batch_nodes, cached)
        batch_edges = _persist(batch_edges, cached)

        # snapshot maintenance at the batch START: the cross-link job below
        # overlaps the node/edge appends and reads the PRIOR snapshots
        # lazily, and a concurrent compaction's expiry sweep could delete
        # those dirs mid-read. Compacting up front — serially, before any
        # batch job — keeps the snapshot counts bounded with no mid-batch
        # sweep.
        for t in ("nodes", "edges", "cross_edges", "postings"):
            if io.snapshot_count(t) > COMPACT_ABOVE:
                io.compact(t, fp)

        # assume_unique_key on the edges/cross-edges/postings commits — those
        # frames are unique by key BY CONSTRUCTION REGARDLESS of the input
        # batch (build_edges ends in a (from,to,type) groupBy, cross edges and
        # postings in a DISTINCT set), so the intra-batch first-wins aggregate
        # would only re-shuffle the wide payload (measured as the dominant
        # per-batch commit cost). The NODES commit keeps the default dedup:
        # paper nodes are one row per input ROW, and a batch may legitimately
        # carry the same url twice (a re-crawl landing in two files drained by
        # one micro-batch) — entity nodes are hash-aggregated, but the paper
        # side needs the first-wins collapse.
        commits = {
            "nodes": lambda: timed(
                "nodes_delta", io.append_rows, batch_nodes, "nodes", ["id"], fp
            ),
            "edges": lambda: timed(
                "edges_delta", io.append_rows, batch_edges, "edges", ["id"], fp,
                assume_unique_key=True,
            ),
        }
        if cross_link:
            # Corpus postings for the cross-link are maintained INCREMENTALLY
            # as their own narrow append-only table ((paper_id, entity_id)
            # binary): every new posting comes from an edge built by some
            # batch, and every batch edge's target node is materialized by
            # the SAME batch, so the batch delta is exactly
            # _postings(batch_nodes, batch_edges). This replaces a per-batch
            # full edges × ent_nodes join + distinct (O(corpus) shuffle per
            # micro-batch) with a narrow table scan, and it breaks the cross
            # job's dependency on the post-append tables, so the delta
            # commits overlap (the batch path's stage-6 shape). Older graph
            # dirs without the table are backfilled on first touch.
            #
            # persisted: pe_new feeds THREE jobs (the postings delta append,
            # the postings_all union, and the enumeration's batch side) that
            # run concurrently in the commit threads below — unpersisted,
            # each re-runs the batch-edges × entity-nodes semi-join
            pe_new = _persist(L._postings(batch_nodes, batch_edges), cached)
            postings_delta = pe_new  # the normal per-batch append: O(batch)
            try:
                pe_prior = io.read("postings")
            except FileNotFoundError:
                try:
                    pe_prior = L._postings(io.read("nodes"), io.read("edges"))
                    # one-time backfill of an older graph dir: this batch's
                    # append writes the FULL posting set (anti-join against
                    # the empty table keeps it all); later batches are back
                    # to O(batch) deltas
                    postings_delta = pe_prior.unionByName(pe_new).distinct()
                except FileNotFoundError:
                    pe_prior = None  # first batch into an empty graph dir
            postings_all = (
                pe_new
                if pe_prior is None
                else pe_prior.unionByName(pe_new).distinct()
            )
            # the postings table is a derived cache of _postings(nodes,
            # edges), so its append waits for BOTH source appends: a batch
            # whose nodes append failed while edges + postings landed would
            # leave rows the from-tables recompute cannot produce, and only
            # a re-run of the SAME batch id heals that (an abandoned batch
            # id would leave the append-only table inconsistent forever)
            commits["postings"] = lambda: timed(
                "postings_delta", io.append_rows, postings_delta, "postings",
                ["paper_id", "entity_id"], fp, assume_unique_key=True,
            )
            # the candidate enumeration reads ONLY the prior-snapshot
            # postings (manifest pinned at the read() above) + the cached
            # batch frames, so it runs concurrently with the node/edge
            # appends
            commits["cross"] = lambda: timed(
                "cross_delta", io.append_rows,
                L.cross_link_incremental(
                    None, None, batch_edges, max_block_degree,
                    postings=postings_all, new_postings=pe_new,
                ),
                "cross_edges", ["id"], fp, assume_unique_key=True,
            )
        nodes_all = _commit_concurrently(
            commits, after={"postings": ("nodes", "edges")}
        )["nodes"]

        members = ["edges", "cross_edges"] if cross_link else ["edges"]
        edges_all = timed("edges_all_union", io.commit_union, "edges_all", members, fp)

        timed("metrics_mark", lambda: (io.flush_metrics(), io.mark(f"batch_complete@{fp}", fp)))
    finally:
        for df in cached:
            df.unpersist()
    return PipelineResult(
        nodes=nodes_all, edges=edges_all, metrics=io.metrics(), lineage=io.lineage()
    )
