"""The assembled service: the reference's four concurrent flows as ONE
linear pipeline per cycle (SURVEY.md §3 — DB-status coordination between
racing flows becomes sequential composition; the only concurrency that
remains is Spark's own task parallelism).

Cycle semantics (reference MainApplication.java:54-91):
  1. discover   — scan root/<date>/ for unregistered files -> DISCOVERED
  2. progress   — status machine: today's DISCOVERED -> DOWNLOADING,
                  past DISCOVERED/DOWNLOADING -> READY_FOR_PROCESSING
  3. upload     — claim READY -> IN_PROGRESS, bulk-load CSVs to the sink,
                  per-file FINISHED/ERROR rollup
  4. cleanup    — delete FINISHED files older than the retention window

One composition, two callers: the polling `run_cycle` and the streaming
`start_service_stream` epoch both run `_advance` (discover, progress and
claim) and `_rollup` (FINISHED/ERROR); they differ only in where the
candidate files come from — a full directory scan, or the file source's
micro-batch of newly appeared files.

One state read per cycle: `_advance` compacts the event log once, applies
the discover and progress steps to that state and pins the result with
`localCheckpoint`; the discover, progress and claim events are all derived
from the pin. The pin, not `.cache()`, is what lets the appends that follow
leave the steps' inputs alone: a cached relation over the log path is
re-materialized by the append's recacheByPath with a fresh listing (a step
would see its own output), while a checkpoint is a frozen copy of the rows.

State lives in an append-only registry event log (parquet, date-partitioned
at scale); every step appends events keyed by (cycle seq, batch id) so a
replayed cycle is idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.localrel import local_values_df

from ..operators.registry import (
    current_state,
    dedup_new_files,
    transition_statuses,
    upload_status_rollup,
)
from ..schemas import REGISTRY_EVENTS
from ..sinks.writers import Sink
from ..sources.fs_scan import scan_directory
from .cleanup import run_cleanup
from .upload import claim_ready_files, run_upload_batch


def _stable_cycle_base(
    spark: SparkSession, registry_path: str, checkpoint: str
) -> int:
    """Cycle-id base that is STABLE across restarts of the same stream.

    cycle_id = base + epoch_id keys every registry append and sink write,
    so it must be a pure function of epoch_id for a given checkpoint: if
    the base were re-derived from max(batch_id)+1 on every start (as a
    naive resume would), a crash-replayed epoch — whose first attempt
    already appended events — would replay under a DIFFERENT cycle_id,
    breaking idempotence (double registration, duplicate sink partitions).

    The base is computed once per checkpoint lifetime and persisted beside
    the streaming checkpoint (same lifecycle: wiping the checkpoint resets
    epoch_id to 0, and the marker with it, so a fresh base is derived above
    all historical batch_ids). Written atomically (tmp + rename).
    """
    os.makedirs(checkpoint, exist_ok=True)
    marker = os.path.join(checkpoint, "cycle_base")
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    base = RegistryLog(spark, registry_path).next_cycle()
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(base))
    os.replace(tmp, marker)
    return base


class RegistryLog:
    """Append-only registry event log on parquet."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._side = self.path.rstrip("/") + "__compacting"
        self._trash = self.path.rstrip("/") + "__old"

    def events(self) -> DataFrame:
        self._recover()
        try:
            return self.spark.read.schema(REGISTRY_EVENTS).parquet(self.path)
        except Exception:  # noqa: BLE001 — first cycle: log does not exist
            return local_values_df(self.spark, [], REGISTRY_EVENTS)

    def state(self) -> DataFrame:
        return current_state(self.events())

    def append(self, rows: DataFrame) -> None:
        rows.select(*[f.name for f in REGISTRY_EVENTS.fields]).write.mode(
            "append"
        ).parquet(self.path)

    def next_cycle(self) -> int:
        """Resume-safe cycle numbering: seq values must never repeat across
        restarts or latest-wins compaction becomes ambiguous."""
        row = self.events().agg(F.max("batch_id")).first()
        return 0 if row is None or row[0] is None else int(row[0]) + 1

    def _recover(self) -> None:
        """Heal a compaction interrupted by a crash — the log must never be
        lost to a window between renames.

        Invariants of `compact`'s rename protocol: the side snapshot is
        complete before the log is moved aside (the swap starts only after
        the snapshot's write AND read-back count succeed), and the old log
        is deleted only after the snapshot has been promoted. So:
        - log missing + side present  -> crash mid-swap: promote side;
        - log missing + only trash    -> promote trash (pre-promotion
          crash shape if side promotion itself was interrupted);
        - log present + side/trash    -> crash before/after the swap: the
          live log is authoritative; drop leftovers.
        """
        import shutil

        if not os.path.exists(self.path):
            if os.path.exists(self._side):
                os.replace(self._side, self.path)
            elif os.path.exists(self._trash):
                os.replace(self._trash, self.path)
        if os.path.exists(self._side):
            shutil.rmtree(self._side, ignore_errors=True)
        if os.path.exists(self._trash):
            shutil.rmtree(self._trash, ignore_errors=True)

    def compact(self) -> int:
        """Rewrite the log as its current state (one event per filename).

        Read amplification grows with event count; compaction resets it.
        Parquet can't overwrite a path being read, so the snapshot lands in
        a side dir, the live log is renamed aside, the snapshot is renamed
        in, and only then is the old log deleted — every intermediate crash
        state is recoverable by `_recover` (a crash never loses the log,
        unlike delete-then-rename). Returns rows kept. At scale, run per
        date-partition instead of whole-log.

        NOT safe concurrently with a live reader of the log path: run it
        between polling cycles, or let the streaming service's in-epoch
        `compact_every` hook do it (inside an epoch nothing else reads).
        """
        import shutil

        self._recover()
        snapshot = self.state()
        snapshot.write.mode("overwrite").parquet(self._side)
        # read-back count doubles as the snapshot-complete gate: the swap
        # below MUST NOT start unless the side dir is a full valid snapshot
        n = self.spark.read.schema(REGISTRY_EVENTS).parquet(self._side).count()
        if os.path.exists(self.path):
            os.replace(self.path, self._trash)
        os.replace(self._side, self.path)
        shutil.rmtree(self._trash, ignore_errors=True)
        return n


def _events(
    rows: DataFrame, status: Column, seq: int, batch_id: Column
) -> DataFrame:
    """One step's registry events, as ONE file: a cycle's events are few
    next to the log, and every state read pays per log file."""
    return rows.select(
        "filename", "create_date", status.alias("status"),
        F.lit(seq).cast("long").alias("seq"),
        batch_id.cast("long").alias("batch_id"),
    ).coalesce(1)


def _advance(
    log: RegistryLog, candidates: DataFrame, today: str, cycle_id: int
) -> tuple[DataFrame, dict]:
    """Discover, progress and claim over ONE read of the registry state.

    The state plus the novel candidates (`_new`, registered as DISCOVERED)
    goes through the status machine and is pinned once; `_was` keeps each
    file's status from before the progress step. Three event sets come off
    the pin, appended in order: discover (seq_base), progress (seq_base+1),
    claim (seq_base+2). Claiming from the pin is exact: the progress step
    only moves DISCOVERED/DOWNLOADING rows, never the IN_PROGRESS/FINISHED
    rows or batch ids that the reclaim and companion logic reads.

    Returns the pinned claim and the {discovered, progressed} counters.
    """
    seq_base = cycle_id * 10
    cycle = F.lit(cycle_id)
    state = log.state()
    novel = dedup_new_files(candidates, state.select("filename")).select(
        "filename", "create_date", F.lit("DISCOVERED").alias("status"),
        F.lit(seq_base).cast("long").alias("seq"),
        cycle.cast("long").alias("batch_id"), F.lit(True).alias("_new"),
    )
    pin = transition_statuses(
        state.withColumn("_new", F.lit(False)).unionByName(novel)
        .withColumn("_was", F.col("status")),
        today,
    ).localCheckpoint(eager=True)
    progressed = F.col("status") != F.col("_was")
    log.append(_events(pin.filter("_new"), F.lit("DISCOVERED"), seq_base, cycle))
    log.append(_events(pin.filter(progressed), F.col("status"), seq_base + 1, cycle))
    # one cycle's claim set is small: one partition keeps the upload's
    # collects and joins over it to one task each
    ready = claim_ready_files(
        pin, current_batch=cycle_id
    ).coalesce(1).localCheckpoint(eager=True)
    # the claim event carries sink_batch, NOT cycle_id: reclaimed files
    # keep their original claim batch across any number of retries, so
    # every re-upload overwrites the same idempotent sink partition
    log.append(_events(
        ready, F.lit("IN_PROGRESS"), seq_base + 2, F.col("sink_batch")
    ))
    counts = pin.agg(
        F.count_if("_new").alias("discovered"),
        F.count_if(progressed).alias("progressed"),
    ).first()
    return ready, counts.asDict()


def _rollup(
    log: RegistryLog, ready: DataFrame, outcomes: DataFrame, cycle_id: int
) -> None:
    """Per-file FINISHED/ERROR events (seq_base+3). They record sink_batch
    (not cycle_id) as batch_id: that is what makes a sink batch's
    membership recoverable, so a later reclaim can rewrite the WHOLE
    partition (see claim_ready_files)."""
    finished = (
        upload_status_rollup(outcomes)
        .join(outcomes.select("filename", "sink_batch").distinct(), "filename")
        .join(ready.select("filename", "create_date"), "filename")
    )
    log.append(_events(
        finished, F.col("status"), cycle_id * 10 + 3, F.col("sink_batch")
    ))


def start_service_stream(
    spark: SparkSession,
    root: str,
    registry_path: str,
    sink: Sink,
    checkpoint: str,
    today: str | None = None,
    trigger_seconds: int = 15,
    available_now: bool = False,
    max_files_per_trigger: int | None = 10_000,
    compact_every: int = 50,
):
    """Structured-Streaming service mode: the discovery stream drives the
    WHOLE pipeline — each micro-batch of newly-appeared files runs the
    same `_advance` + upload + `_rollup` composition as `run_cycle`
    inside one foreachBatch epoch.

    Differences from the polling `run_cycle`: the file source's checkpoint
    replaces the backfill scan (restart = resume, no re-listing), and epoch
    ids key both the registry events and the sink writes, so a replayed
    epoch is idempotent; stale IN_PROGRESS claims from a crashed epoch are
    reclaimed by the next one. Cleanup stays a scheduled batch job.

    `today=None` re-evaluates the calendar day PER EPOCH (a frozen value
    would stall the status machine after midnight); pass a fixed date only
    in tests. Caveat: a stateless foreachBatch query fires only when new
    files arrive — on quiet days no epoch runs, so pending transitions wait
    for the next file (or a scheduled `run_cycle`, which progresses state
    unconditionally).

    The registry event log is compacted in-line every `compact_every`
    epochs — inside the epoch is the one point where no concurrent reader
    holds a listing of the log path (0 disables).
    """
    import datetime as _dt

    from .discovery import discovered_files_stream

    base = _stable_cycle_base(spark, registry_path, checkpoint)

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        spark_ = batch.sparkSession
        log = RegistryLog(spark_, registry_path)
        cycle_id = base + epoch_id
        epoch_today = today or _dt.date.today().isoformat()
        ready, _ = _advance(log, batch, epoch_today, cycle_id)
        outcomes = run_upload_batch(
            spark_, ready, lambda d: os.path.join(root, d), sink,
            batch_id=cycle_id,
        )
        _rollup(log, ready, outcomes, cycle_id)
        if compact_every and cycle_id > 0 and cycle_id % compact_every == 0:
            log.compact()  # safe here: no concurrent reader inside the epoch

    stream = discovered_files_stream(spark, root, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def run_cycle(
    spark: SparkSession,
    root: str,
    registry_path: str,
    sink: Sink,
    today: str,
    cycle: int = 0,
    do_cleanup: bool = False,
) -> dict:
    """One full service cycle; returns counters for observability."""
    log = RegistryLog(spark, registry_path)
    try:
        fs = scan_directory(spark, root)  # load() lists eagerly
    except Exception:  # noqa: BLE001
        # an empty/missing tree is a quiet cycle, not a failure (the
        # reference falls back and retries, SaveNewFilesToDbFlow.java:139-163)
        fs = local_values_df(
            spark, [], "filename string, create_date date, status string"
        )
    ready, stats = _advance(log, fs, today, cycle)
    outcomes = run_upload_batch(
        spark, ready, lambda d: os.path.join(root, d), sink, batch_id=cycle
    )
    _rollup(log, ready, outcomes, cycle)
    # one pass over the outcomes plan (listing + joins) for both counters
    counts = outcomes.agg(
        F.count_if(F.col("ok")).alias("uploaded"),
        F.count_if(~F.col("ok")).alias("failed"),
    ).first()
    stats["uploaded"] = int(counts["uploaded"])
    stats["failed"] = int(counts["failed"])

    # 4. cleanup (reference Flow 4), gated like the reference's 3 h cycle;
    # the cycle's own scan is the on-disk side (no second listing)
    if do_cleanup:
        stats.update(run_cleanup(log.state(), fs, root, today))
    return stats
