"""The epoch contract every foreachBatch pipeline in this package runs on.

Exactly-once landing comes from one piece, as in Structured Streaming: a
replayable source (the checkpointed query re-delivers an epoch after a
crash) plus sinks that are idempotent under that replay. A replayed epoch
re-runs from the top, so every write it makes must land nothing the first
attempt already landed. Three rules give that, each written once here:

- **Absent sink** (`landed`). A sink path that does not exist means
  nothing has landed yet. An existing sink is read with an explicit schema,
  so an empty directory reads as empty. Any other read error (corrupt
  footer, permissions, a transient object-store flake) propagates and fails
  the epoch, which the checkpoint then retries. Treating such an error as
  "first epoch" would skip the replay guard and land the batch twice.
- **Idempotent land** (`unlanded`, `land`). Anti-join the rows against the
  keys already landed in the sink, then append. One epoch is one append, so
  the reference's read-check-insert race cannot occur.
- **Epoch prologue** (`fresh_epoch`). Drop in-batch duplicate keys, drop
  rows with a null payload, anti-join the landed store, then an eager
  `localCheckpoint`. The checkpoint pins the anti-join to the store's
  contents before this epoch appends to it. `persist()` is not enough: an
  append to a path invalidates every cached plan over that path
  (CacheManager.recacheByPath), so a cached anti-join would be recomputed
  against the post-append listing and see its own rows as already landed.

An epoch that makes several writes orders them so that the write the
replay guard reads (the store that defines "seen") lands last; each write
is idempotent on its own, so a crash between two of them is repaired by the
replay.

**Guarded epoch logs** (`guarded_append`) are the accumulator logs (sketch,
HLL, HDR, reservoir, drift, calibration, experiment). Their rows are epoch
partials, which have no natural key, so the replay guard is the epoch id:
`guarded_append` stamps `batch_id` on the partial and appends only when no
row of that epoch is in the log yet (`log_has_epoch`).

`compact_log` folds such a log to one merged partial stamped
COMPACTED_STAMP. It stages the merge in a tmp dir and swaps it into place
with two atomic renames (sources.tables.swap_directory), so the live log is
old-complete or new-complete at every instant. Compaction and appends
exclude each other through two filesystem flags (Dekker-style: each side
sets its own flag, then checks the other's), because the stamp fold defeats
an in-flight epoch's replay check and the swap drops an append that lands
between the read and the rename:

- an appender checks `<log>__compacting` (raise if present), creates
  `<log>__appending_<epoch>`, re-checks the compaction flag (raise and clean
  up if it appeared), then appends and removes its marker;
- `compact_log` creates `<log>__compacting` atomically (raise if one
  exists), then refuses if any `__appending_*` marker exists.

Either interleaving ends in a loud error on one side (the foreachBatch
retry re-runs the epoch; compaction is a maintenance call the operator
re-issues), never a dropped or double-counted partial.
tests/test_log_guard.py interleaves the two paths and asserts exactly that.
Flags left by a crashed process expire after STALE_FLAG_SEC.

`start_epochs` is the one place a pipeline's foreachBatch query is started.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructField, StructType

from ..sources.tables import _fs_for, swap_directory

# Stamp for compacted (merged) partials: never a real epoch id.
COMPACTED_STAMP = -1

# A __compacting / __appending_* flag older than this is a crash leftover
# (both operations complete in seconds), reclaimed instead of honored.
STALE_FLAG_SEC = 600.0


def landed(
    spark: SparkSession, path: str, schema: str | StructType
) -> DataFrame | None:
    """The rows landed in the parquet sink at `path`, read with `schema`,
    or None when nothing has landed yet (the path does not exist). Any read
    error propagates (module docstring, absent sink)."""
    fs, hpath = _fs_for(spark, path)
    if not fs.exists(hpath):
        return None
    return spark.read.schema(schema).parquet(path)


def unlanded(df: DataFrame, path: str, key: str) -> DataFrame:
    """`df` without the rows whose `key` already landed at `path`."""
    field = df.schema[key]
    seen = landed(df.sparkSession, path, StructType([StructField(key, field.dataType)]))
    return df if seen is None else df.join(seen, key, "left_anti")


def land(df: DataFrame, path: str, key: str) -> None:
    """Idempotent append: only the rows whose `key` has not landed yet."""
    unlanded(df, path, key).write.mode("append").parquet(path)


def fresh_epoch(
    batch: DataFrame, key: str, store_path: str, payload: str | None = None
) -> DataFrame:
    """The epoch prologue: one row per `key`, rows with a null `payload`
    dropped, keys already landed in `store_path` dropped, then pinned by an
    eager localCheckpoint before the epoch writes anything."""
    batch = batch.dropDuplicates([key])
    if payload is not None:
        batch = batch.filter(F.col(payload).isNotNull())
    return unlanded(batch, store_path, key).localCheckpoint(eager=True)


def start_epochs(
    stream: DataFrame,
    epoch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start `epoch` as the query's foreachBatch sink, checkpointed at
    `checkpoint_dir`. The trigger is availableNow (drain what is present,
    then stop) unless `processing_time` gives a timer cadence."""
    writer = stream.writeStream.foreachBatch(epoch).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


def _flag_path(log_path: str, suffix: str) -> str:
    return log_path.rstrip("/") + suffix


def _flag_exists(spark: SparkSession, flag: str) -> bool:
    """True iff the flag file exists AND is fresh; a stale flag is deleted
    (crash leftover) and reported absent."""
    fs, hpath = _fs_for(spark, flag)
    if not fs.exists(hpath):
        return False
    try:
        age = time.time() - fs.getFileStatus(hpath).getModificationTime() / 1000.0
    except Exception:
        return True  # raced with the owner's delete: treat as live
    if age > STALE_FLAG_SEC:
        fs.delete(hpath, False)
        return False
    return True


def _create_flag(spark: SparkSession, flag: str) -> bool:
    """Atomically create the flag file; False if it already exists (fresh).
    A stale leftover is reclaimed first."""
    _flag_exists(spark, flag)  # expire a stale flag so createNewFile can win
    fs, hpath = _fs_for(spark, flag)
    return bool(fs.createNewFile(hpath))


def _remove_flag(spark: SparkSession, flag: str) -> None:
    fs, hpath = _fs_for(spark, flag)
    if fs.exists(hpath):
        fs.delete(hpath, False)


def _appending_markers(spark: SparkSession, log_path: str) -> list[str]:
    """Fresh `__appending_*` markers beside the log (stale ones expired)."""
    parent = log_path.rstrip("/")
    prefix = parent.rsplit("/", 1)[-1] + "__appending_"
    fs, hdir = _fs_for(spark, parent.rsplit("/", 1)[0] or "/")
    if not fs.exists(hdir):
        return []
    out = []
    for st in fs.listStatus(hdir):
        name = st.getPath().getName()
        if name.startswith(prefix):
            full = parent.rsplit("/", 1)[0] + "/" + name
            if _flag_exists(spark, full):
                out.append(full)
    return out


class CompactionInProgress(RuntimeError):
    """An epoch append refused because a compaction holds the log."""


class IngestInFlight(RuntimeError):
    """A compaction refused because an epoch append is mid-write."""


def guarded_append(
    spark: SparkSession,
    log_path: str,
    schema: str,
    batch_id: int,
    partial: DataFrame,
) -> bool:
    """Stamp `partial` with `batch_id` and append it replay-idempotently
    under the append/compact mutual-exclusion protocol (module docstring).
    Returns False when the epoch was already logged (idempotent replay),
    True when appended. Raises CompactionInProgress (loudly -- the
    foreachBatch retry re-runs the epoch) instead of ever racing a
    compaction swap."""
    compacting = _flag_path(log_path, "__compacting")
    if _flag_exists(spark, compacting):
        raise CompactionInProgress(
            f"epoch {batch_id}: compaction holds {log_path}; retry the batch"
        )
    marker = _flag_path(log_path, f"__appending_{batch_id}")
    if not _create_flag(spark, marker):
        # a concurrent retry of the SAME epoch is mid-append; the replay
        # check below would miss its in-flight rows -- fail to the retry
        raise CompactionInProgress(
            f"epoch {batch_id}: another append of this epoch is in flight"
        )
    try:
        # re-check AFTER our marker is visible: the compactor either sees
        # the marker and aborts, or we see its flag here and abort
        if _flag_exists(spark, compacting):
            raise CompactionInProgress(
                f"epoch {batch_id}: compaction started under us on {log_path}"
            )
        if log_has_epoch(spark, log_path, schema, batch_id):
            return False
        stamped = partial.withColumn("batch_id", F.lit(batch_id).cast("long"))
        stamped.write.mode("append").parquet(log_path)
        return True
    finally:
        _remove_flag(spark, marker)


def log_has_epoch(
    spark: SparkSession, log_path: str, schema: str, batch_id: int
) -> bool:
    """True iff `batch_id`'s partial is already in the epoch log (an
    absent log holds no epoch; read errors propagate)."""
    log = landed(spark, log_path, schema)
    return log is not None and bool(log.filter(F.col("batch_id") == batch_id).take(1))


def compact_log(
    spark: SparkSession,
    log_path: str,
    merged_builder: "Callable[[], DataFrame]",
) -> None:
    """Fold the epoch log to the single merged partial built by
    `merged_builder`, stamped COMPACTED_STAMP, crash-safely: stage to a tmp
    dir, then atomic-rename swap into the live path.

    Mutual exclusion (module docstring): takes the `__compacting` flag
    first and refuses with IngestInFlight if any fresh `__appending_*`
    marker exists.

    `merged_builder` is a THUNK, not a DataFrame (the processingTime soak,
    tests/test_experiment_soak.py, caught silent data loss with the
    DataFrame form): `spark.read.parquet(log)` pins its FILE LISTING when
    the DataFrame is constructed, so a merged relation built before this
    function takes the `__compacting` flag reads a stale snapshot -- an
    epoch that lands COMPLETELY between that listing and the flag (all its
    guarded_append checks legitimately pass: no flag existed yet) is then
    erased by the swap with no error on either side. Building the read inside the
    critical section closes the window: any append after the flag exists
    raises CompactionInProgress on the appender side, and everything
    before it is in the listing."""
    compacting = _flag_path(log_path, "__compacting")
    if not _create_flag(spark, compacting):
        raise IngestInFlight(f"another compaction already holds {log_path}")
    try:
        markers = _appending_markers(spark, log_path)
        if markers:
            raise IngestInFlight(
                f"compaction refused: epoch append(s) in flight on {log_path}:"
                f" {[m.rsplit('/', 1)[-1] for m in markers]}"
            )
        tmp = log_path.rstrip("/") + "__compact_tmp"
        # the listing AND the materialization both happen inside the
        # critical section: writing to tmp fully materializes the merged
        # read of the live log BEFORE the live path changes; the swap then
        # needs no second copy
        merged = merged_builder().withColumn("batch_id", F.lit(COMPACTED_STAMP).cast("long"))
        merged.write.mode("overwrite").parquet(tmp)
        swap_directory(spark, tmp, log_path.rstrip("/"))
    finally:
        _remove_flag(spark, compacting)
