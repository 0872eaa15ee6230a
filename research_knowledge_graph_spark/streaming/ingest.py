"""Incremental page ingestion via Structured Streaming.

The reference is strictly batch (sequential loop ``main.py:124-134``) and the
north rule asks for checkpoint-resumable *stages*, which the batch pipeline
provides via TableIO snapshots. This module adds the incremental variant a
continuously-crawled corpus needs: new page files land in a directory, a
``Trigger.AvailableNow`` stream drains them exactly-once (file-source +
checkpoint), runs the stateless extraction stages, and appends to the triple
store. Re-running after new files arrive processes ONLY the new files.

All stage-1/2 operators are stateless projections/explodes, so they run
unchanged on a streaming DataFrame — the benefit of keeping extraction as
pure expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from research_knowledge_graph_spark.operators.extraction import (
    extract_triples_heuristic,
)
from research_knowledge_graph_spark.operators.html_text import extract_text
from research_knowledge_graph_spark.operators.validation import validate_triples
from research_knowledge_graph_spark.sources.pages import PAGES_SCHEMA


def _ensure_local_dir(path: str) -> None:
    """Create a LOCAL landing dir if absent; for a REMOTE scheme'd URI
    (s3a://, hdfs://) this is a no-op — ``os.makedirs`` would otherwise
    create a bogus local directory literally named 's3a:/...' and silently
    defeat the landing-dir guard (ADVICE r5). A ``file://`` URI is still
    LOCAL: the scheme is stripped and the dir created, otherwise a
    local path spelled URI-style would skip the guard and the first
    scheduled stream run preceding the producer's first drop would fail
    at start — exactly what the guard exists to prevent. Remote stores
    either auto-create on write or are provisioned out of band."""
    if path.startswith("file://"):
        # the empty authority (file:///abs/path) and "localhost"
        # (file://localhost/abs/path) both name this host (RFC 8089, and
        # Hadoop's local filesystem); any other host is not ours
        host, _, rest = path[len("file://"):].partition("/")
        if host in ("", "localhost"):
            os.makedirs("/" + rest, exist_ok=True)
    elif path.startswith("file:"):
        os.makedirs(path[len("file:"):], exist_ok=True)
    elif "://" not in path:
        os.makedirs(path, exist_ok=True)


def stream_pages(
    spark: SparkSession,
    input_dir: str,
    schema=None,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """File-source stream of parquet files (default: the pages schema) —
    THE schema'd file-stream reader, parameterized so every streaming
    entrypoint shares one copy of the landing-dir guard + trigger sizing
    (aggregates.run_windowed_rollup consumes it with its own schema)."""
    # a not-yet-created landing dir must mean "drain zero files", not an
    # AnalysisException at stream start (first scheduled run typically
    # precedes the producer's first drop)
    _ensure_local_dir(input_dir)
    return (
        spark.readStream.schema(schema or PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_incremental_ingest(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    """Drain all currently-available files through extraction → validated
    triples, append to ``output_dir``. Exactly-once per file via the stream
    checkpoint; safe to re-run whenever new files arrive."""
    import os

    # landing-directory pattern: the first run may precede the first drop
    # (same guard as run_streaming_graph_ingest — a file-source stream on a
    # not-yet-created dir fails at start instead of draining zero files)
    _ensure_local_dir(input_dir)
    pages = stream_pages(spark, input_dir)
    docs = extract_text(pages).selectExpr(
        "url", "warc_ts", "extracted_text AS text", "lang"
    )
    triples = validate_triples(extract_triples_heuristic(docs))
    q = (
        triples.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_streaming_graph_ingest(
    spark: SparkSession,
    input_dir: str,
    graph_dir: str,
    checkpoint_dir: str,
    mode: str = "heuristic",
) -> None:
    """Continuous crawl → KNOWLEDGE GRAPH, end to end: each micro-batch of
    newly-landed page files runs the FULL incremental graph pipeline
    (extraction → validation → node/edge materialization → delta
    cross-linking) via ``foreachBatch``.

    Exactly-once composition, the two halves covering each other's failure
    mode:

    - the stream checkpoint guarantees each FILE is delivered to exactly
      one micro-batch — a restart never re-delivers a processed file;
    - ``run_pipeline_incremental`` keys the batch on the deterministic
      (stream-checkpoint id, ``epoch_id``) pair, so a crash AFTER the
      batch's graph commit but BEFORE the stream checkpoint advances (the
      classic foreachBatch double-fire window) makes the re-delivered
      batch a no-op (its ``batch_complete`` marker is already committed),
      and a crash mid-batch resumes at the per-stage markers — while a
      RECREATED checkpoint (new stream id, epochs restarting at 0) can
      never silently match an old run's markers in the same graph_dir.

    Re-run whenever new files arrive; the graph under ``graph_dir``
    converges to the one-shot ingest of everything delivered (pinned by
    ``tests/test_streaming_graph_ingest.py``)."""
    import os

    from research_knowledge_graph_spark.plans.pipeline import (
        run_pipeline_incremental,
    )

    # landing-directory pattern: the first run may precede the first drop
    _ensure_local_dir(input_dir)

    def _stream_id() -> str:
        """Stable identity of THIS stream's checkpoint, read from the
        checkpoint metadata Spark writes at stream start (``{"id": uuid}``).
        Batch markers must be scoped to it: a bare ``epoch_id`` restarts
        from 0 whenever the checkpoint is recreated, and an old run's
        ``batch_complete@epoch0`` marker in the SAME graph_dir would then
        silently no-op the new stream's first batch even though its file
        set differs. Scoped markers make that a full (idempotent,
        anti-joined) reprocess instead of a silent skip; within one
        checkpoint lineage the id is stable across restarts, so the
        double-fire replay window still no-ops. The metadata is read
        through Hadoop's FileSystem API so ANY checkpoint URI Spark can
        host (hdfs://, s3a://, file://, bare local path) resolves the
        real uuid — a builtin ``open()`` only understands local paths,
        and erroring on every remote URI would make production runs live
        permanently on the weak fallback (where a recreated checkpoint
        KEEPS the old identity and the first batch silently no-ops).
        Last-resort fallback (metadata not yet visible on any reader): a
        hash of the checkpoint path — weaker but never wrong within one
        lineage."""
        import hashlib
        import json as _json

        meta_path = os.path.join(checkpoint_dir, "metadata")
        try:
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(meta_path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(jpath):
                stream = fs.open(jpath)
                try:
                    raw = bytes(
                        jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                    )
                finally:
                    stream.close()
                return _json.loads(raw.decode("utf-8"))["id"][:12]
        except Exception:  # py4j/FS errors → try the local read below
            pass
        try:
            with open(meta_path) as f:
                return _json.load(f)["id"][:12]
        except (OSError, ValueError, KeyError):
            return hashlib.sha256(
                os.path.abspath(checkpoint_dir).encode()
            ).hexdigest()[:12]

    def _ingest_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_pipeline_incremental(
            batch_df.sparkSession, batch_df, graph_dir,
            batch_id=f"{_stream_id()}-epoch{epoch_id}", mode=mode,
        )

    q = (
        stream_pages(spark, input_dir)
        .writeStream.foreachBatch(_ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
