"""Checkpointed table IO: snapshot-committed stage outputs with resume.

The north rule asks for Iceberg tables with checkpoint-resumable stage
boundaries. No Iceberg runtime jar ships in this sandbox, so ``TableIO``
implements the same *semantics* behind one seam — swap in Iceberg
(``spark.table`` / ``MERGE INTO``) on a real cluster without touching
callers:

- each stage write is a **snapshot directory** + an atomic manifest update
  (write temp manifest, ``os.replace``) — a stage is either fully committed
  or absent;
- a stage keyed by (name, fingerprint) that is already committed is
  **skipped on re-run** and its snapshot is read back (idempotent resume;
  deterministic ids make output content-stable across runs);
- ``append_rows`` = first-wins MERGE emulation for incremental ingest:
  only the rows whose key is not yet in the table are written, as a new
  delta snapshot added to the table's member list (existing rows win on
  key collision); ``compact`` rewrites the member list into one snapshot,
  and the incremental pipeline runs it at batch start.

Lineage + metrics: every commit appends a lineage row and per-partition row
counts to sidecar tables (``_lineage``, ``_metrics``), per the north rule.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")
        # every commit's metrics are deferred to flush_metrics(), which
        # records all of them at once from the snapshots' parquet footers
        self._pending: list[tuple[str, str, str, float]] = []  # (name, fp, path, sec)
        # stage writes may be submitted from concurrent driver threads
        # (independent stages overlap); manifest read-modify-write is locked
        self._lock = threading.Lock()
        # append_rows is a read-modify-write of one table's member-path list
        # AND an anti-join against its current contents — both must see every
        # prior append, so appends to the SAME table serialize on a per-table
        # lock (different tables still overlap). compact() takes the same
        # lock (its expiry sweep must not race a concurrent append's
        # yet-unrecorded snapshot).
        self._table_locks: dict[str, threading.Lock] = {}
        # snapshot dirs written but not yet recorded in the manifest —
        # write_stage doesn't take the table lock (stage names are unique),
        # so compact's sweep must see these to never delete a mid-commit dir
        self._inflight: set[str] = set()
        # snapshot dirs a flush_metrics job is currently reading — they have
        # already left _pending, so without this pin a concurrent compact's
        # expiry sweep could delete a superseded delta mid-read (kept
        # separate from _inflight so write_stage's own discard can never
        # unpin a path the metrics job still holds)
        self._reading: set[str] = set()

    def _table_lock(self, name: str) -> threading.Lock:
        with self._lock:
            return self._table_locks.setdefault(name, threading.Lock())

    # -- manifest ----------------------------------------------------------
    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"tables": {}}

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    @staticmethod
    def _prune_markers(manifest: dict, keep: int = 256) -> None:
        """Bound the '@'-keyed marker entries (per-batch append markers,
        batch_complete sentinels) that idempotent resume gates on: without
        pruning, a continuous ingest grows the manifest by a few entries per
        micro-batch FOREVER, and every operation re-reads + atomically
        rewrites the whole JSON — linear per batch, quadratic over the
        stream's lifetime. Only the newest ``keep`` markers per prefix
        (the part before '@') survive; a marker old enough to be pruned is
        far outside the stream's replay window, and losing one is SAFE —
        the re-delivered batch walks every stage and the per-stage
        anti-joins/fingerprint checks make it a no-op on the data."""
        groups: dict[str, list[str]] = {}
        for ename, e in manifest["tables"].items():
            if "@" in ename:
                groups.setdefault(ename.split("@", 1)[0], []).append(ename)
        for names in groups.values():
            if len(names) <= keep:
                continue
            names.sort(
                key=lambda n: (manifest["tables"][n].get("committed_at") or "", n)
            )
            for n in names[:-keep]:
                del manifest["tables"][n]

    def _sweep_table_dir(self, name: str) -> None:
        """Expire snapshot dirs under ``name``'s directory that nothing
        references: no non-marker manifest entry (union commits pin member
        snapshots), no queued (_pending) or in-flight (_reading) metrics
        read, no mid-commit stage write (_inflight). Shared by compact()
        and write_stage() re-commits; like Iceberg's expire-snapshots it
        invalidates DataFrames handed out from earlier reads of superseded
        snapshots — re-read after expiry."""
        import shutil

        with self._lock:
            manifest = self._load_manifest()
            still = set()
            for ename, e in manifest["tables"].items():
                if "@" in ename:
                    continue
                still.update(
                    e.get("paths") or ([e["path"]] if e.get("path") else [])
                )
            still.update(pth for _, _, pth, _ in self._pending)
            still.update(self._inflight)
            still.update(self._reading)
            table_dir = os.path.join(self.root, name)
            sweep = [
                os.path.join(table_dir, d)
                for d in os.listdir(table_dir)
                if d.startswith("snap-")
            ]
        for pth in sweep:
            if pth not in still and os.path.isdir(pth):
                shutil.rmtree(pth, ignore_errors=True)

    # -- stage commit / resume --------------------------------------------
    def is_committed(self, name: str, fingerprint: str) -> bool:
        t = self._load_manifest()["tables"].get(name)
        return bool(t) and t.get("fingerprint") == fingerprint

    def write_stage(
        self,
        df: DataFrame,
        name: str,
        fingerprint: str,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        """Commit ``df`` as the snapshot for stage ``name`` unless an
        identical (name, fingerprint) snapshot exists; return the committed
        table (always read back from storage — later stages see exactly what
        was committed).

        ``partition_by``: hive-style directory partitioning — use for LOW-
        cardinality, small-output tables (dynamic-partition writes sort every
        task and fan out files; measured 3× write cost on a 7M-row table).
        ``sort_by``: cluster rows by the column(s) within each task instead —
        parquet row-group min/max stats then give filter skipping without the
        partitioned-write cost (the Iceberg write-sort-order analog).
        """
        if self.is_committed(name, fingerprint):
            return self.read(name)

        snap = os.path.join(self.root, name, f"snap-{uuid.uuid4().hex[:12]}")
        with self._lock:
            self._inflight.add(snap)
        try:
            if sort_by:
                df = df.sortWithinPartitions(*sort_by)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            t0 = time.time()
            writer.parquet(snap)

            committed = self.spark.read.parquet(snap)
            with self._lock:
                self._pending.append((name, fingerprint, snap, time.time() - t0))
                manifest = self._load_manifest()
                superseded = name in manifest["tables"]
                manifest["tables"][name] = {
                    "path": snap,
                    "fingerprint": fingerprint,
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                }
                self._commit_manifest(manifest)
        finally:
            with self._lock:
                self._inflight.discard(snap)
        if superseded:
            # expire the re-committed stage's orphaned snapshot(s): without
            # this, every re-run with a new fingerprint leaks one full copy
            # of each stage output (compact() only ever sweeps multi-path
            # appended tables). Same invalidation semantics as compact —
            # see _sweep_table_dir.
            self._sweep_table_dir(name)
        return committed

    def commit_union(self, name: str, members: list[str], fingerprint: str) -> DataFrame:
        """Commit ``name`` as the UNION of already-committed tables without
        rewriting a byte — the Iceberg-append analog (a snapshot is a list of
        member paths in the manifest). At 10¹²-doc scale rewriting the edge
        table to append cross-edges would be the single largest IO cost in
        the pipeline; this makes it a metadata operation."""
        if self.is_committed(name, fingerprint):
            return self.read(name)
        with self._lock:
            manifest = self._load_manifest()
            paths = []
            for m in members:
                t = manifest["tables"][m]
                paths.extend(t["paths"] if "paths" in t else [t["path"]])
            manifest["tables"][name] = {
                "paths": paths,
                "fingerprint": fingerprint,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            # members' metrics were already recorded at their own commits
            self._commit_manifest(manifest)
        return self.read(name)

    def read(self, name: str) -> DataFrame:
        t = self._load_manifest()["tables"].get(name)
        if not t:
            raise FileNotFoundError(f"table {name!r} not committed under {self.root}")
        if "paths" in t:
            df = self.spark.read.parquet(t["paths"][0])
            for p in t["paths"][1:]:
                df = df.unionByName(self.spark.read.parquet(p), allowMissingColumns=True)
            return df
        return self.spark.read.parquet(t["path"])

    @staticmethod
    def _dedup_first(df: DataFrame, key: list[str]) -> DataFrame:
        """Deterministic intra-batch first-wins: among rows sharing a key,
        keep the one whose ORDERABLE non-key columns form the smallest tuple
        (``dropDuplicates`` keeps an arbitrary row — non-key columns would be
        nondeterministic across runs). Unorderable columns (maps) ride along
        via ``min_by``; rows tied on every orderable column are
        indistinguishable up to those, so the pick is stable."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _ord(dt) -> bool:
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return _ord(dt.elementType)
            if isinstance(dt, StructType):
                return all(_ord(f.dataType) for f in dt.fields)
            return True

        others = [c for c in df.columns if c not in key]
        orderable = [
            f.name for f in df.schema.fields if f.name in others and _ord(f.dataType)
        ]
        if not others or not orderable:
            return df.dropDuplicates(key)
        row = F.min_by(F.struct(*others), F.struct(*orderable)).alias("_row")
        return (
            df.groupBy(*key).agg(row).select(*key, "_row.*").select(*df.columns)
        )

    def append_rows(
        self,
        df: DataFrame,
        name: str,
        key: list[str],
        fingerprint: str,
        assume_unique_key: bool = False,
    ) -> DataFrame:
        """First-wins incremental MERGE, append-only: write ONLY the delta
        (rows of ``df`` whose key is not yet in the table — existing rows
        win, the reference's first-insertion semantics) as a new snapshot
        and add it to the table's member-path list. Per batch, IO is
        O(delta), never O(table) — the Iceberg MERGE-on-read append analog.
        A batch fingerprint already committed is skipped (idempotent
        re-runs). Returns the full table after the append.

        Appends to the same table SERIALIZE on a per-table lock: the delta
        anti-join and the member-path list must both see every prior append,
        or a concurrent append's path is silently dropped and its keys can
        duplicate. Different tables still append concurrently.

        ``assume_unique_key``: the caller asserts ``df`` is already unique
        by ``key`` (e.g. the output of a deterministic hash-aggregate on the
        key, or ids derived from a ``distinct`` pair set). Skips the
        intra-batch first-wins aggregate — one full shuffle of the wide
        delta payload, measured as the dominant per-batch commit cost on
        the cross-edges table. A wrong assertion would commit duplicate
        keys inside ONE snapshot (cross-snapshot dedup is unaffected: the
        anti-join still runs), so only set it for frames whose plan
        guarantees key uniqueness."""
        with self._table_lock(name):
            if self.is_committed(f"{name}@{fingerprint}", fingerprint):
                return self.read(name)
            with self._lock:
                manifest = self._load_manifest()
                t = manifest["tables"].get(name)
                prior_paths = (t.get("paths") or [t["path"]]) if t else []
            delta = df if assume_unique_key else self._dedup_first(df, key)
            if prior_paths:
                # project each snapshot to the KEY columns before the union:
                # only keys feed the anti-join, and a strict full-schema
                # union would break the append the moment any later snapshot
                # gained a column (read() tolerates schema evolution via
                # allowMissingColumns; the anti-join must too — key columns
                # are invariant by contract)
                existing = self.spark.read.parquet(prior_paths[0]).select(*key)
                for p in prior_paths[1:]:
                    existing = existing.unionByName(
                        self.spark.read.parquet(p).select(*key)
                    )
                delta = delta.join(existing, key, "left_anti")

            snap = os.path.join(self.root, name, f"snap-{uuid.uuid4().hex[:12]}")
            t0 = time.time()
            delta.write.mode("overwrite").parquet(snap)
            with self._lock:
                manifest = self._load_manifest()
                manifest["tables"][name] = {
                    "paths": prior_paths + [snap],
                    "fingerprint": fingerprint,
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                }
                # marker entry records that this batch's delta is committed
                manifest["tables"][f"{name}@{fingerprint}"] = {
                    "path": snap,
                    "fingerprint": fingerprint,
                    "committed_at": manifest["tables"][name]["committed_at"],
                }
                self._prune_markers(manifest)
                self._commit_manifest(manifest)
                self._pending.append((name, fingerprint, snap, time.time() - t0))
            return self.read(name)

    def snapshot_count(self, name: str) -> int:
        """Number of member snapshots behind ``name`` (0 = not committed) —
        lets callers schedule :meth:`compact` maintenance at a safe point
        (e.g. batch start) instead of mid-append."""
        t = self._load_manifest()["tables"].get(name)
        if not t:
            return 0
        return len(t.get("paths") or ([t["path"]] if t.get("path") else []))

    def mark(self, name: str, fingerprint: str) -> None:
        """Commit a zero-data sentinel entry — e.g. a batch-complete marker
        written as the LAST step of a multi-table commit so resume logic can
        gate on 'everything in this batch landed', not on an intermediate
        artifact. Never ``read()``; check with :meth:`is_committed`."""
        with self._lock:
            manifest = self._load_manifest()
            manifest["tables"][name] = {
                "path": None,
                "fingerprint": fingerprint,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._prune_markers(manifest)
            self._commit_manifest(manifest)

    def compact(self, name: str, fingerprint: str) -> DataFrame:
        """Rewrite a multi-snapshot (delta-appended) table into ONE snapshot
        — the Iceberg rewrite_data_files maintenance analog. Run when the
        member-path list grows enough that per-read union planning and
        small-file overhead matter (e.g. every N ingest batches); contents
        are unchanged (content equality is test-pinned).

        Superseded snapshot directories are DELETED after the manifest
        commit (the expire-snapshots half of the maintenance op) — without
        it, periodic compaction in a long-running ingest accumulates a full
        extra copy of the table at every compaction. Like
        Iceberg's expire, this invalidates DataFrames handed out from
        *earlier* reads of the pre-compaction snapshot list; re-read after
        compacting. Paths referenced by OTHER manifest entries (e.g. an
        ``edges_all`` union commit listing member snapshots) are kept.

        Serialization: holds the table's append lock for the whole rewrite
        + sweep, so a direct ``compact()`` call cannot race a concurrent
        ``append_rows`` to the same table (the sweep would otherwise delete
        a delta written but not yet recorded). ``write_stage`` doesn't take
        the table lock, so two defenses cover it: snapshots mid-commit are
        pinned via the in-flight set, and a stage commit that lands on the
        SAME name while the rewrite runs makes the compaction abandon
        itself (stale-paths check under the manifest lock) instead of
        clobbering the newer commit."""
        with self._table_lock(name):
            t = self._load_manifest()["tables"].get(name)
            if not t:
                raise FileNotFoundError(
                    f"table {name!r} not committed under {self.root}"
                )
            if "paths" not in t or len(t["paths"]) <= 1:
                return self.read(name)
            orig_paths = list(t["paths"])
            df = self.read(name)
            snap = os.path.join(self.root, name, f"snap-{uuid.uuid4().hex[:12]}")
            df.write.mode("overwrite").parquet(snap)
            # deferred per-partition metrics read their snapshot paths at
            # flush time — record them NOW so expiring a superseded snapshot
            # can never orphan a queued metrics read (compaction is already a
            # heavyweight maintenance boundary; one extra metrics job is in
            # budget)
            self.flush_metrics()
            with self._lock:
                manifest = self._load_manifest()
                cur = manifest["tables"].get(name) or {}
                cur_paths = cur.get("paths") or (
                    [cur["path"]] if cur.get("path") else []
                )
                if cur_paths != orig_paths:
                    # a concurrent write_stage to the SAME name committed
                    # while we rewrote (stage writes skip the table lock by
                    # design): our rewrite is stale — abandon it rather than
                    # clobber the newer commit and sweep its snapshot
                    import shutil

                    shutil.rmtree(snap, ignore_errors=True)
                    return self.read(name)
                manifest["tables"][name] = {
                    "paths": [snap],
                    "fingerprint": fingerprint,
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                }
                self._commit_manifest(manifest)
            # expire: sweep the table's directory for snapshot dirs no
            # longer referenced by any TABLE entry. Sweeping the whole dir
            # (not just this compaction's superseded list) also collects
            # snapshots a stale union commit pinned LAST time — they become
            # unreferenced once that union re-commits, and the next
            # compaction picks them up, so disk stays bounded for every
            # table in the long-running ingest. Pin rules in
            # _sweep_table_dir ('@'-keyed MARKER entries never pin — their
            # path field is informational, never read).
            self._sweep_table_dir(name)
            return self.read(name)

    # -- lineage + metrics ---------------------------------------------------
    def flush_metrics(self) -> None:
        """Emit all deferred per-partition metrics in ONE job + one lineage
        append. No-op when nothing is pending. The pending list is taken
        atomically so concurrent stage threads can keep appending."""
        with self._lock:
            pending, self._pending = self._pending, []
            # pin the taken snapshot paths until the metrics job finishes:
            # once they leave _pending they are invisible to a concurrent
            # compact()'s expiry sweep (whose own flush_metrics no-ops
            # because this thread took the list), which could otherwise
            # delete a superseded delta while this job is reading it
            self._reading.update(snap for _, _, snap, _ in pending)
        if not pending:
            return
        try:
            # per-partition row counts come straight from the snapshots'
            # parquet FOOTERS (one part file per write task), read on the
            # driver — the previous spark.read → groupBy(spark_partition_id)
            # job re-scanned every snapshot written this batch (including a
            # ~10⁶-row cross-edge delta per streaming micro-batch) just to
            # count rows Spark's own writer already recorded in the footer.
            import glob as _glob

            import pyarrow as pa
            import pyarrow.parquet as pq

            out = {"partition_id": [], "rows": [], "stage": [], "fingerprint": []}
            for name, fp, snap, _ in pending:
                files = sorted(
                    _glob.glob(os.path.join(snap, "**", "*.parquet"), recursive=True)
                )
                for i, f in enumerate(files):
                    out["partition_id"].append(i)
                    out["rows"].append(pq.ParquetFile(f).metadata.num_rows)
                    out["stage"].append(name)
                    out["fingerprint"].append(fp)
            if out["stage"]:
                table = pa.table(
                    {
                        "partition_id": pa.array(out["partition_id"], pa.int32()),
                        "rows": pa.array(out["rows"], pa.int64()),
                        "stage": pa.array(out["stage"], pa.string()),
                        "fingerprint": pa.array(out["fingerprint"], pa.string()),
                    }
                )
                mdir = os.path.join(self.root, "_metrics")
                os.makedirs(mdir, exist_ok=True)
                pq.write_table(
                    table, os.path.join(mdir, f"part-{uuid.uuid4().hex}.parquet")
                )

            self._write_lineage_rows(
                [(n, fp, float(sec)) for n, fp, _, sec in pending]
            )
        finally:
            with self._lock:
                self._reading.difference_update(
                    snap for _, _, snap, _ in pending
                )

    def _write_lineage_rows(self, rows: list[tuple[str, str, float]]) -> None:
        """Append (stage, fingerprint, elapsed_sec) + a commit timestamp to
        the ``_lineage`` sidecar DIRECTLY from the driver (pyarrow): the
        rows are a handful of driver-side strings per batch, and routing
        them through ``createDataFrame().write`` launched a whole Spark job
        per flush just to serialize them — measured as a fixed ~0.3-0.5 s
        tax on every streaming micro-batch. TableIO's manifest is already
        driver-local file IO (``open``/``os.replace``), so this stays
        within the class's storage model; Spark reads the arrow-written
        footers interchangeably with its own."""
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        now = datetime.datetime.now(datetime.timezone.utc)
        table = pa.table(
            {
                "stage": pa.array([r[0] for r in rows], type=pa.string()),
                "fingerprint": pa.array([r[1] for r in rows], type=pa.string()),
                "elapsed_sec": pa.array([r[2] for r in rows], type=pa.float64()),
                "committed_at": pa.array(
                    [now] * len(rows), type=pa.timestamp("us", tz="UTC")
                ),
            }
        )
        ldir = os.path.join(self.root, "_lineage")
        os.makedirs(ldir, exist_ok=True)
        pq.write_table(table, os.path.join(ldir, f"part-{uuid.uuid4().hex}.parquet"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_metrics"))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_lineage"))
