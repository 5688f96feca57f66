"""Stream runner: backfill + change-capture micro-batch loop.

The Spark rewrite of the reference's ZIO pipeline (SURVEY.md §3.1-3.2):

    poll changelog (A1) → pending folders (A2/B5) → read+type CSV (A3)
    → normalize (B2) → field selection (B1) → merge key (B4)
    → dedup latest (B8) → CDC merge (B9) + schema evolution (B10)
    → commit snapshot → watermark (B11) → maintenance cadence (C1-C4)

Every caller — tick, row-grouped tick, readStream micro-batch, both
backfills — applies a batch through ``StreamRunner.apply_change_batch``:
the commit lands before the watermark advances and the merge is
idempotent, so a crash between them replays one batch harmlessly — the
reference's exactly-once order (StreamRunner.scala:198-233).

Backfill (B13-B17): full-history replay from ``backfill_start`` with
``Overwrite`` (CREATE OR REPLACE analog: a merge into no target) or
``Merge`` finalization (docs/backfill.md:27-47).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession

from ..operators.dedup import latest_by_version
from ..operators.merge import cdc_merge
from ..operators.retry import RetryPolicy, with_retry
from ..operators.transforms import normalize_column_names, select_fields, with_merge_key
from ..sources.synapse import BatchFolder, SynapseLinkSource
from ..tables import VersionedTable
from .observability import MetricsRecorder


@dataclass
class StreamSpec:
    """Job config — mirrors the reference CRD's meaningful knobs
    (crd-microsoft-synapse.yaml; stream-context-serialized-example.json)."""

    entity_name: str
    source_root: str
    target_root: str
    key_column: str = "Id"
    version_column: str = "versionnumber"
    is_delete_column: str = "IsDelete"
    field_selection_mode: str = "all"  # all | include | exclude
    fields: tuple[str, ...] = ()
    # fieldSelectionRule.essentialFields override (empty → CRD defaults:
    # id, versionnumber, isdelete, arcane_merge_key)
    essential_fields: tuple[str, ...] = ()
    change_capture_interval_s: float = 300.0
    backfill_start: str | None = None
    backfill_behavior: str = "Overwrite"  # Overwrite | Merge
    optimize_batch_threshold: int = 60  # maintenance cadence (C1-C3)
    optimize_file_size_mb: int = 100  # C1 fileSizeThreshold (CRD default 100MB)
    analyze_batch_threshold: int = 180  # stats cadence (C4)
    analyze_included_columns: tuple[str, ...] = ()  # C4 includedColumns (empty → all)
    snapshots_to_keep: int = 4
    bucket_count: int = 0  # >0 → bucket target snapshots by merge key
    bucket_key: str = "arcane_merge_key"  # partitionExpressions bucket(col, N)
    # A9 partitionExpressions time/identity transforms, e.g. month(order_date)
    # — layout-only (reader scan pruning); merge pruning stays bucket-based
    # because only key-derived partitions are safe to prune a MERGE by
    target_partition_transforms: tuple[tuple[str, str], ...] = ()
    max_folders_per_tick: int = 0  # coarse admission cap (folders per tick)
    # structured path: byte-range split threshold for oversized batch CSVs
    # (sources/stream.py:_csv_split_points); 0 → the source default (32 MiB)
    chunk_bytes: int = 0
    # B6 grouping (docs/crd.md:35-43): rows are emitted in groups of at most
    # rowsPerGroup; a partial group goes out when the grouping interval
    # elapses — here: per-commit row cap + backlog drain cadence
    rows_per_group: int = 0
    grouping_interval_s: float = 0.0
    # B18 static shaper (crd-microsoft-synapse.yaml:320-360): token bucket
    # "N per T second" + burst; groups are admitted at the advised rate
    advised_rate: str | None = None
    advised_burst: int = 0  # bucket capacity; <=0 → one second's worth
    # B19 memory-bound shaper (crd-microsoft-synapse.yaml:361-393):
    # shaper_impl "static" uses advised_rate; "memory_bound" prices each
    # group's memory cost against free memory through a sigmoid
    shaper_impl: str = "static"  # static | memory_bound
    chunk_cost_scale: float = 4.0
    chunk_cost_max: float = 0.5
    table_row_count_weight: float = 0.0
    table_size_weight: float = 1.0
    table_size_scale_factor: float = 0.5
    fallback_string_size: int = 64  # fallbackStringTypeSizeEstimate
    object_size: int = 256  # objectTypeSizeEstimate
    estimated_row_bytes: int = 0  # >0 overrides the schema-based estimate
    # A1 poll jitter (changeCaptureJitterVariance/Seed): each sleep is
    # interval × (1 ± U[0,variance)) — thundering-herd avoidance when many
    # entity streams poll the same storage account
    change_capture_jitter_variance: float = 0.0
    change_capture_jitter_seed: int | None = None
    retry: RetryPolicy = field(default_factory=RetryPolicy)  # B9 queryRetry*
    metrics_path: str | None = None  # observability: per-batch JSONL
    # DeclaredMetrics/DataDog.UdsPublisher analog: "udp:host:port" or
    # "uds:/path.sock" — per-batch StatsD datagrams (rows-in, rows-merged,
    # batch-duration)
    statsd_address: str | None = None
    metric_tags: tuple[tuple[str, str], ...] = ()  # observability.metricTags
    # A9 targetTableProperties: in-file sort order + parquet bloom filters
    target_sorted_by: tuple[str, ...] = ()
    target_bloom_filter_columns: tuple[str, ...] = ()
    # B20 source buffering (crd-microsoft-synapse.yaml:447-475): "buffered"
    # overlaps source read+parse of the NEXT admission group with the merge
    # of the current one (double-buffering via localCheckpoint on a second
    # scheduler thread — FAIR mode shares the executors), bounded by
    # max_buffer_rows (<=0 → unbounded, the reference's "unbounded" mode)
    source_buffering: str = "none"  # none | buffered
    max_buffer_rows: int = 0
    # staging.table.isUnifiedSchema: true → disable B10 schema migration;
    # stage/target column-set mismatch becomes an error instead of auto-ADD
    is_unified_schema: bool = False
    # A6 staging.table.maxRowsPerFile: cap rows per written data file
    max_rows_per_file: int = 0
    # A5 storageConnection (crd-microsoft-synapse.yaml:499-539): endpoint +
    # shared-key/default auth + retry/page-size knobs.  For an s3://
    # source_root this builds a boto3-backed metadata IO
    # (sources/objectstore.py); for abfss:// roots the same block maps to
    # fs.azure.* conf via azure_hadoop_conf and this field stays None.
    storage_connection: dict | None = None


@dataclass(frozen=True)
class BatchOutcome:
    """What one applied change batch did, observed in its commit job."""

    rows: int  # incoming change rows
    merged: int  # rows that took effect past the version guard
    table_rows: int  # rows committed (the whole table unless bucket-incremental)


@dataclass
class RunnerStats:
    batches_merged: int = 0
    folders_seen: list[str] = field(default_factory=list)


class StreamRunner:
    def __init__(self, spark: SparkSession, spec: StreamSpec):
        self.spark = spark
        self.spec = spec
        source_io = None
        if spec.storage_connection is not None:
            from ..sources.azureblob import (
                AzureBlobStoreIO,
                azure_blob_connection,
                is_azure_path,
            )
            from ..sources.objectstore import S3StoreIO, is_s3_path, s3_connection

            if is_s3_path(spec.source_root):
                source_io = S3StoreIO(**s3_connection(spec.storage_connection))
            elif is_azure_path(spec.source_root):
                source_io = AzureBlobStoreIO(
                    **azure_blob_connection(
                        spec.storage_connection, source_root=spec.source_root
                    )
                )
        self.source = SynapseLinkSource(spec.source_root, spec.entity_name, io=source_io)
        self.table = VersionedTable(
            spec.target_root,
            bucket_count=spec.bucket_count,
            bucket_key=spec.bucket_key,
            sorted_by=spec.target_sorted_by,
            bloom_filter_columns=spec.target_bloom_filter_columns,
            partition_transforms=spec.target_partition_transforms,
            max_rows_per_file=spec.max_rows_per_file,
        )
        self.stats = RunnerStats()
        self.metrics = MetricsRecorder(
            spec.metrics_path,
            tags={"entity": spec.entity_name, **dict(spec.metric_tags)},
            statsd_address=spec.statsd_address,
        )
        if spec.shaper_impl == "memory_bound":
            from .throughput import MemoryBoundShaper

            self.shaper: TokenBucket | MemoryBoundShaper | None = MemoryBoundShaper(
                row_bytes=spec.estimated_row_bytes or (spec.fallback_string_size * 8),
                chunk_cost_scale=spec.chunk_cost_scale,
                chunk_cost_max=spec.chunk_cost_max,
                row_count_weight=spec.table_row_count_weight,
                size_weight=spec.table_size_weight,
                table_size_scale_factor=spec.table_size_scale_factor,
            )
        elif spec.advised_rate:
            from .throughput import TokenBucket, parse_advised_rate

            rate = parse_advised_rate(spec.advised_rate)
            self.shaper = TokenBucket(
                rate, capacity=float(spec.advised_burst) if spec.advised_burst > 0 else rate
            )
        else:
            self.shaper = None
        # B22 graceful-stop flag: set by SIGTERM (run() installs the handler)
        # or request_stop(); checked between merge groups so the in-flight
        # group finishes, its watermark commits, and the loop exits cleanly
        self._stop = False
        self._deferred = False  # True when shaping deferred part of a backlog

    def request_stop(self) -> None:
        self._stop = True

    # ---- suspend / reload lifecycle (reference arcane/state annotation,
    # docs/crd.md:9-14: suspended pauses capture without exit;
    # reload-requested triggers an in-place re-backfill) -------------------
    STATE_RUNNING = "running"
    STATE_SUSPENDED = "suspended"
    STATE_RELOAD = "reload-requested"

    def _state_path(self) -> str:
        return os.path.join(self.table.root, "_meta", "arcane_state")

    def desired_state(self) -> str:
        """Read the stream's desired state from the control file. Absent or
        unreadable → running (the reference treats a missing annotation the
        same way)."""
        try:
            with open(self._state_path()) as fh:
                return fh.read().strip() or self.STATE_RUNNING
        except OSError:
            return self.STATE_RUNNING

    def set_state(self, state: str) -> None:
        if state not in (self.STATE_RUNNING, self.STATE_SUSPENDED, self.STATE_RELOAD):
            raise ValueError(f"unknown stream state {state!r}")
        os.makedirs(os.path.dirname(self._state_path()), exist_ok=True)
        self.table._write_atomic(self._state_path(), state)

    def request_suspend(self) -> None:
        self.set_state(self.STATE_SUSPENDED)

    def request_resume(self) -> None:
        self.set_state(self.STATE_RUNNING)

    def request_reload(self) -> None:
        self.set_state(self.STATE_RELOAD)

    def toggle_suspend(self) -> None:
        """SIGUSR1 handler body: flip suspended ⇄ running."""
        if self.desired_state() == self.STATE_SUSPENDED:
            self.request_resume()
        else:
            self.request_suspend()

    # ---- shared transform chain (B2→B1→B4) -------------------------------
    def _prepare(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        df = normalize_column_names(df)
        if self.spec.essential_fields:
            df = select_fields(
                df, self.spec.field_selection_mode, self.spec.fields,
                essential=self.spec.essential_fields,
            )
        else:
            df = select_fields(df, self.spec.field_selection_mode, self.spec.fields)
        df = with_merge_key(df, self.spec.key_column)
        # rows without a merge key cannot participate in MERGE; dropping
        # them keeps null-key garbage out of the dedup window
        return df.where(F.col("arcane_merge_key").isNotNull())

    # ---- the change-batch apply path (B9 → B11 → C1-C4) -------------------
    def apply_change_batch(
        self, df: DataFrame, up_to: str, is_backfill: bool = False
    ) -> BatchOutcome:
        """prepare → version-guarded ``cdc_merge`` → snapshot commit →
        watermark ``up_to`` → metrics → maintenance. The retried unit is
        prepare+merge+commit (replay-safe: the merge is idempotent); the
        outcome's counts are observed in the commit job, no extra action.

        ``is_backfill``: ``Overwrite`` merges into no target, ``Merge``
        into the live one; ``backfillOnly`` retries apply, and the batch
        does not count toward the maintenance cadence."""
        from pyspark.sql import functions as F

        t0 = time.time()

        def merge_and_commit() -> BatchOutcome:
            # an Observation reports the first action it sees: one per attempt
            incoming, effective, committed = Observation(), Observation(), Observation()
            staged = self._prepare(df.observe(incoming, F.count(F.lit(1)).alias("n")))
            target = touched = None
            if self.table.exists() and not (
                is_backfill and self.spec.backfill_behavior == "Overwrite"
            ):
                # in the batch's session: a readStream micro-batch runs in
                # the query's cloned session, and an Observation is reported
                # only by a job of the session it was attached in
                target = self.table.read(df.sparkSession)
            if target is not None and self.table.bucket_count and not is_backfill:
                # incremental path: merge into ONLY the buckets the batch
                # touches (partition-pruned target read); untouched buckets
                # are hard-linked forward by commit — at 100 TB the merge
                # cost follows the change set, not the table
                staged = staged.withColumn("__bucket", self.table.bucket_expr())
                touched = [r[0] for r in staged.select("__bucket").distinct().collect()]
                target = target.where(F.col("__bucket").isin(touched))
            merged = cdc_merge(
                target,
                staged,
                version_col=self.spec.version_column,
                is_delete_col=self.spec.is_delete_column,
                allow_schema_evolution=not self.spec.is_unified_schema,
                observation=effective,
            )
            self.table.commit(
                merged.observe(committed, F.count(F.lit(1)).alias("n")),
                touched_buckets=touched,
            )
            return BatchOutcome(incoming.get["n"], effective.get["merged"], committed.get["n"])

        out = with_retry(merge_and_commit, self.spec.retry, is_backfill=is_backfill)
        self.table.set_watermark(up_to)  # commit THEN watermark
        if self.spec.metrics_path or self.spec.statsd_address:
            self.metrics.record(up_to, out.rows, out.merged, time.time() - t0)
        if not is_backfill:
            self.stats.batches_merged += 1
            self._maintenance()
        return out

    # ---- backfill (B13-B17) ------------------------------------------------
    def backfill(self) -> int:
        """Full-history replay; returns rows in the finalized target."""
        head = self.source.changelog_head()
        folders = self.source.list_folders(after=self.spec.backfill_start, up_to=head)
        if not folders:
            return 0
        df = self.source.read_folders(self.spark, folders)
        if df is None:
            return 0
        return self.apply_change_batch(df, folders[-1].name, is_backfill=True).table_rows

    # ---- sharded resumable backfill (B14 + B17) -----------------------------
    def backfill_sharded(self, backfill_id: str, num_shards: int = 4) -> int:
        """Backfill split into folder shards, each staged independently and
        recorded in a per-backfill state file — a killed backfill resumes
        from the last completed shard instead of restarting (the reference's
        SynapseShardFactory + DefaultBackfillStateManager,
        main.scala:14-18,91-97; backfill id = STREAMCONTEXT__BACKFILL_ID).
        Staging dirs are uniquely named per backfill id / shard (A7, the
        reference's DefaultNameGenerator ``<prefix>_<GUID>`` staging names,
        docs/crd.md:99-104 — here the id itself is the unique suffix).

        The folder set is pinned at first run (recorded in the state file)
        so resume works on the same snapshot even if new folders land
        mid-backfill; they are picked up by the next change-capture tick.
        """
        import json
        import shutil

        state_path = os.path.join(self.table.root, "_meta", f"backfill_{backfill_id}.json")
        staging_root = os.path.join(self.table.root, "_backfill", backfill_id)

        if os.path.exists(state_path):
            with open(state_path) as fh:
                state = json.load(fh)
        else:
            head = self.source.changelog_head()
            folders = self.source.list_folders(after=self.spec.backfill_start, up_to=head)
            if not folders:
                return 0
            state = {
                "head": head,
                "folders": [f.name for f in folders],
                "num_shards": num_shards,
                "done": [],
            }
            self.table._write_atomic(state_path, json.dumps(state))

        by_name = {f.name: f for f in self.source.list_folders(up_to=state["head"])}
        names = state["folders"]
        n = state["num_shards"]
        shards = [names[i::n] for i in range(n)]

        for i, shard_names in enumerate(shards):
            if i in state["done"] or not shard_names:
                continue
            shard_folders = [by_name[x] for x in shard_names if x in by_name]
            df = self.source.read_folders(self.spark, shard_folders)
            if df is not None:
                staged = latest_by_version(self._prepare(df), version_col=self.spec.version_column)
                staged.write.mode("overwrite").parquet(os.path.join(staging_root, f"shard_{i}"))
            state["done"].append(i)
            self.table._write_atomic(state_path, json.dumps(state))  # resume point

        shard_dirs = [
            os.path.join(staging_root, d)
            for d in sorted(os.listdir(staging_root))
        ] if os.path.isdir(staging_root) else []
        if shard_dirs:
            dfs = [self.spark.read.parquet(d) for d in shard_dirs]
            union = dfs[0]
            for d in dfs[1:]:
                union = union.unionByName(d, allowMissingColumns=True)
            # the merge dedups across shards (a key may sit in several)
            rows = self.apply_change_batch(union, state["head"], is_backfill=True).table_rows
        else:
            rows = 0
            self.table.set_watermark(state["head"])
        # dispose (B12): drop staging + state after successful finalize
        shutil.rmtree(staging_root, ignore_errors=True)
        os.unlink(state_path)
        return rows

    # ---- change capture (A1→B11 loop) ---------------------------------------
    def run_once(self) -> int:
        """One poll tick: merge the whole pending folder range as ONE
        deduplicated group, then advance the watermark to the frontier.

        Grouping the range (rather than folder-at-a-time) mirrors the
        reference's observable semantics: a delete and a later stale
        re-upload of the same key inside one capture window must still net
        to a delete (StreamRunner.scala:206-233 — dedup across the group
        picks the delete row via its higher sysrowversion). Per-folder
        schemas survive because folders are read individually and unioned
        by name (watch-list item 3). Returns folders consumed."""
        state = self.desired_state()
        if state == self.STATE_SUSPENDED:
            return 0  # paused: no scan, no merge, watermark untouched
        if state == self.STATE_RELOAD:
            # reload-requested: in-place re-backfill from the configured
            # start, then resume normal capture (docs/crd.md:12-14)
            self.backfill()
            self.set_state(self.STATE_RUNNING)
            return 0
        pending = self.source.pending(self.table.watermark())
        if self.spec.max_folders_per_tick > 0:
            # coarse admission: cap folders per tick
            pending = pending[: self.spec.max_folders_per_tick]
        if not pending:
            return 0

        if self.spec.rows_per_group > 0 or self.shaper is not None:
            return self._run_once_grouped(pending)

        self._deferred = False
        df = self.source.read_folders(self.spark, pending)
        if df is not None:
            self.apply_change_batch(df, pending[-1].name)
        else:
            # no data for this entity — still advance the frontier
            self.table.set_watermark(pending[-1].name)
        self.stats.folders_seen.extend(f.name for f in pending)
        return len(pending)

    def _run_once_grouped(self, pending: list[BatchFolder]) -> int:
        """Row-granular admission (B6 + B18): one count pass over the
        pending range, chunk folders into ≤ rowsPerGroup groups, admit each
        group through the token bucket. Each admitted group merges and
        advances the watermark independently (same exactly-once unit as the
        plain path — the version-guarded merge keeps cross-group delete/
        stale-re-upload hazards out exactly as the reference's chunked
        emission does). Unadmitted folders stay pending for the next tick."""
        from .throughput import chunk_by_rows

        counts = self.source.folder_row_counts(self.spark, pending)
        groups = chunk_by_rows(
            pending, [counts[f.name] for f in pending], self.spec.rows_per_group
        )
        buffering = self.spec.source_buffering == "buffered"
        executor = None
        prefetch = None  # Future[DataFrame | None] for groups[i+1]
        if buffering and len(groups) > 1:
            from concurrent.futures import ThreadPoolExecutor

            executor = ThreadPoolExecutor(max_workers=1, thread_name_prefix="src-buffer")

        def _read_materialized(g):
            # parse + localCheckpoint on the buffer thread: the merge of the
            # current group and the read of the next share executors (FAIR)
            d = self.source.read_folders(self.spark, g)
            return d.localCheckpoint() if d is not None else None

        # DataFrame.unpersist() does NOT drop localCheckpoint blocks —
        # they are pinned at the RDD layer inside the LogicalRDD plan
        from ..session import release_checkpoint as _release

        consumed = 0
        try:
            for i, grp in enumerate(groups):
                rows = sum(counts[f.name] for f in grp)
                if self.shaper is not None and not self.shaper.take_up_to_capacity(rows):
                    if prefetch is not None:  # bounded waste: drop the read-ahead
                        _release(prefetch.result())
                    break  # over the advised rate — defer the rest of the backlog
                prefetched = False
                if prefetch is not None:
                    df = prefetch.result()
                    prefetch = None
                    prefetched = True
                else:
                    df = self.source.read_folders(self.spark, grp)
                if executor is not None and i + 1 < len(groups) and not self._stop:
                    nxt = groups[i + 1]
                    nxt_rows = sum(counts[f.name] for f in nxt)
                    if self.spec.max_buffer_rows <= 0 or nxt_rows <= self.spec.max_buffer_rows:
                        prefetch = executor.submit(_read_materialized, nxt)
                if df is not None:
                    self.apply_change_batch(df, grp[-1].name)
                    if prefetched:
                        _release(df)  # drop the buffer's pinned blocks
                else:
                    self.table.set_watermark(grp[-1].name)
                self.stats.folders_seen.extend(f.name for f in grp)
                consumed += len(grp)
                if self._stop:  # B22: finish the in-flight group, then yield
                    if prefetch is not None:
                        _release(prefetch.result())
                        prefetch = None
                    break
        finally:
            if executor is not None:
                executor.shutdown(wait=True)
        self._deferred = consumed < len(pending)
        return consumed

    # ---- dispose (B12): startup sweep of abandoned staging ------------------
    def sweep_staging(self, keep_backfill_id: str | None = None) -> list[str]:
        """Remove leftover backfill staging dirs + state files, except the
        one named by ``keep_backfill_id`` (an in-progress resumable
        backfill). The reference drops leftover staging tables matching the
        prefix on startup (docs/crd.md:101-104); called from the CLI before
        a run and safe to call any time — finalized backfills already
        removed their staging."""
        import shutil

        removed = []
        staging_root = os.path.join(self.table.root, "_backfill")
        meta = os.path.join(self.table.root, "_meta")
        if os.path.isdir(staging_root):
            for bf_id in os.listdir(staging_root):
                if bf_id == keep_backfill_id:
                    continue
                shutil.rmtree(os.path.join(staging_root, bf_id), ignore_errors=True)
                state = os.path.join(meta, f"backfill_{bf_id}.json")
                if os.path.exists(state):
                    os.unlink(state)
                removed.append(bf_id)
        return removed

    def next_interval(self, rng=None) -> float:
        """Poll sleep with jitter (A1): interval × (1 ± U[0, variance))."""
        v = self.spec.change_capture_jitter_variance
        base = self.spec.change_capture_interval_s
        if v <= 0:
            return base
        rng = rng if rng is not None else self._jitter_rng()
        return base * (1.0 + rng.uniform(-v, v))

    def _jitter_rng(self):
        import random

        if not hasattr(self, "_rng"):
            self._rng = random.Random(self.spec.change_capture_jitter_seed)
        return self._rng

    def run(
        self,
        max_ticks: int | None = None,
        poll_interval_s: float | None = None,
        install_signal_handlers: bool = True,
    ) -> None:
        """Continuous change capture (trigger analog, 2.E). ``max_ticks``
        bounds the loop for tests — the TimeLimitLifetimeService analog.

        B22 graceful lifetime (reference PosixStreamLifetimeService,
        main.scala:82): SIGTERM/SIGINT set the stop flag; the in-flight
        group finishes its merge, the watermark commits, and the loop
        returns normally (exit 0 at the CLI). Handlers only install from
        the main thread — a MultiEntityRunner worker thread skips them."""
        import signal
        import threading

        restore: list[tuple[int, object]] = []
        if install_signal_handlers and threading.current_thread() is threading.main_thread():
            for sig in (signal.SIGTERM, signal.SIGINT):
                restore.append((sig, signal.getsignal(sig)))
                signal.signal(sig, lambda *_: self.request_stop())
            # SIGUSR1 = suspend/resume toggle (the arcane/state: suspended
            # annotation analog — pause capture without exiting)
            restore.append((signal.SIGUSR1, signal.getsignal(signal.SIGUSR1)))
            signal.signal(signal.SIGUSR1, lambda *_: self.toggle_suspend())
        try:
            ticks = 0
            while (max_ticks is None or ticks < max_ticks) and not self._stop:
                self.run_once()
                ticks += 1
                if self._stop or (max_ticks is not None and ticks >= max_ticks):
                    break
                if poll_interval_s is not None:
                    interval = poll_interval_s
                elif getattr(self, "_deferred", False) and self.spec.grouping_interval_s > 0:
                    # backlog deferred by shaping: drain at the grouping
                    # cadence instead of the full capture interval (B6)
                    interval = self.spec.grouping_interval_s
                else:
                    interval = self.next_interval()
                # sleep in small slices so a signal interrupts promptly
                deadline = time.monotonic() + interval
                while not self._stop and time.monotonic() < deadline:
                    time.sleep(min(0.2, max(0.0, deadline - time.monotonic())))
        finally:
            for sig, old in restore:
                signal.signal(sig, old)

    # ---- maintenance (C1-C4 cadence) ----------------------------------------
    def _maintenance(self) -> None:
        if self.stats.batches_merged % self.spec.optimize_batch_threshold == 0:
            self.table.optimize(self.spark, self.spec.optimize_file_size_mb)  # C1
            self.table.expire_snapshots(keep_last=self.spec.snapshots_to_keep)
        if self.stats.batches_merged % self.spec.analyze_batch_threshold == 0:
            self.table.analyze(
                self.spark, columns=list(self.spec.analyze_included_columns) or None
            )


class MultiEntityError(RuntimeError):
    """One or more entities failed inside a MultiEntityRunner pass.

    Carries the complete picture instead of the first exception:
    ``results`` — the healthy entities' outcomes (their work is already
    committed; losing these would misreport successful merges as failed)
    — and ``failures`` — per-target exceptions for the entities that
    threw.  The orchestration layer alerts on ``failures`` and leaves the
    healthy streams alone."""

    def __init__(self, results: dict[str, int], failures: dict[str, Exception]):
        self.results = results
        self.failures = failures
        summary = "; ".join(
            f"{name}: {type(exc).__name__}: {exc}" for name, exc in failures.items()
        )
        super().__init__(
            f"{len(failures)}/{len(results) + len(failures)} entities failed "
            f"({summary})"
        )


class MultiEntityRunner:
    """Run many entity streams in ONE Spark application.

    The reference deploys one process per entity (one MicrosoftSynapseStream
    CR → one k8s Job, docs/crd.md:5-14); consolidation is a Spark-first
    improvement: a single driver submits each entity's backfill/merge as a
    concurrent job (thread-per-entity — Spark's scheduler interleaves job
    stages across the shared executors; enable FAIR scheduling to stop one
    entity's big backfill from starving the rest). Entities stay fully
    isolated: separate sources, targets, watermarks, and retry policies.
    """

    def __init__(self, spark: SparkSession, specs: list[StreamSpec], max_workers: int = 8):
        # two streams may ingest the same entity (e.g. different storage
        # accounts); what must never alias is the TARGET table
        targets = [s.target_root for s in specs]
        if len(set(targets)) != len(targets):
            raise ValueError(f"duplicate target tables: {targets}")
        self.runners = {s.target_root: StreamRunner(spark, s) for s in specs}
        self.max_workers = max_workers

    def _parallel(self, fn) -> dict[str, int]:
        """Run ``fn`` per entity concurrently with FAILURE ISOLATION: every
        entity's future is awaited (one entity throwing mid-merge never
        cancels or blocks the others — their merges commit and their
        watermarks advance), then a single ``MultiEntityError`` is raised
        carrying the healthy results AND the per-entity failures.  The
        failed entity's commit-then-watermark ordering (B11) means its
        watermark did not move, so the next tick simply retries it — the
        consolidated-runner analog of one k8s Job crash-looping while the
        other seven keep streaming."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(self.max_workers, len(self.runners))) as ex:
            futs = {name: ex.submit(fn, r) for name, r in self.runners.items()}
            results: dict[str, int] = {}
            failures: dict[str, Exception] = {}
            for name, f in futs.items():
                try:
                    results[name] = f.result()
                except Exception as exc:  # noqa: BLE001 — isolate per entity
                    failures[name] = exc
        if failures:
            raise MultiEntityError(results, failures)
        return results

    def backfill_all(self) -> dict[str, int]:
        """Concurrent full-history replay per entity; rows per target."""
        return self._parallel(lambda r: r.backfill())

    # ---- per-entity suspend / reload (B23 at consolidation scale) --------
    # The reference's arcane/state annotation is per-CR (docs/crd.md:9-14);
    # in the consolidated runner each entity's control file lives under its
    # OWN target root, so suspending/reloading one stream never touches the
    # other N-1 — these helpers just route to the right runner.
    def _runner(self, target_root: str) -> StreamRunner:
        try:
            return self.runners[target_root]
        except KeyError:
            raise KeyError(
                f"no entity stream targets {target_root!r}; "
                f"known targets: {sorted(self.runners)}"
            ) from None

    def suspend_entity(self, target_root: str) -> None:
        self._runner(target_root).request_suspend()

    def resume_entity(self, target_root: str) -> None:
        self._runner(target_root).request_resume()

    def reload_entity(self, target_root: str) -> None:
        self._runner(target_root).request_reload()

    def states(self) -> dict[str, str]:
        """Desired state per target — the consolidated status view."""
        return {name: r.desired_state() for name, r in self.runners.items()}

    def run_once_all(self) -> dict[str, int]:
        """One change-capture tick per entity; folders merged per entity."""
        return self._parallel(lambda r: r.run_once())

    def maintain_all(self, file_size_mb: int | None = None) -> dict[str, dict]:
        """One consolidated maintenance pass (C1-C4) across every entity:
        compaction toward the file-size threshold, snapshot expiration,
        and per-column ANALYZE, run concurrently over the shared executors
        — the SHARED cadence a consolidated N-entity deployment runs in
        place of the reference's one-cron-per-process model (docs/crd.md).
        Per-entity thresholds still apply inside the regular tick path
        (StreamRunner._maintenance); this entry point forces a full pass,
        e.g. from a nightly scheduler.  Returns per-target ANALYZE stats."""

        def fn(r: StreamRunner) -> dict:
            r.table.optimize(r.spark, file_size_mb or r.spec.optimize_file_size_mb)
            r.table.expire_snapshots(keep_last=r.spec.snapshots_to_keep)
            return r.table.analyze(
                r.spark, columns=list(r.spec.analyze_included_columns) or None
            )

        return self._parallel(fn)
