"""Micro-batch stream harness over the parquet fixtures.

The reference's source is Kafka (`raw_frame_topic` etc., src/params.py);
this container has no broker, so streams are driven through the file
source — which exercises the identical Structured Streaming machinery
(micro-batches, watermarks, state stores, checkpoints). A file becomes
one micro-batch via ``maxFilesPerTrigger=1`` + ``availableNow``; file
order (the "offset order") is modification-time order, which the
writers below control explicitly.

Swap ``readStream.format("kafka")`` in for production; every
transformation downstream is source-agnostic.

:func:`drain_stream` is the package's one stream start: it enters
:func:`ephemeral_checkpoint`, the one scope for the confs of a
throwaway local checkpoint (why the checkpoint manager is swapped
there: see its docstring), and drains with an availableNow trigger
into the sink its caller picks. :func:`run_to_memory` is the memory-sink
form; it owns its checkpoint dir, sink name and temp view.

The replays (``streaming/replay.py``) stage their logs with
:func:`staged_microbatch_log` and open them with :func:`file_stream`
in exactly two places: ``replay._log_stream`` (stage once per
session, open as one stream) and ``replay._stop_and_resume`` (stage
once, deliver in two tranches with :func:`link_batch_files`, drain
each from one checkpoint).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

_CKPT_CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_RENAME_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"


@contextmanager
def ephemeral_checkpoint(
    spark: SparkSession,
    checkpoint_dir: str,
    width: int | None = None,
    conf: dict[str, str] | None = None,
):
    """Scope the confs of a stream whose checkpoint is a per-invocation
    local temp dir, deleted seconds after the drain. Checksum
    companions are off: they guard LONG-LIVED checkpoints on remote
    storage and are pure fixed cost here (SCALE.md "Replay-family
    fixed-wall profile"). The manager is Spark's rename-based
    ``FileSystemBasedCheckpointFileManager``: without Hadoop native IO
    the FileContext default forks a process for file permissions and
    status on every checkpoint file (~2,000 forks per 8-batch stateful
    replay, ~450 after the swap), and those spawns were the replay
    commit floor (SCALE.md "Replay commit floor"). Rename is
    atomic on local disk only, so a non-local ``checkpoint_dir`` is
    rejected; streams outside the scope keep Spark's default manager.
    ``width`` sets the stateful shuffle (state-store partition count)
    to the replay's key scale; ``conf`` adds any per-stream confs.

    Every conf is restored to its prior value (or unset) on exit.
    SERIAL-ONLY: the confs are session-wide while the drain runs; the
    bench, perfbench and pytest harnesses all run queries serially."""
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    scheme = urlparse(checkpoint_dir).scheme or urlparse(default_fs).scheme
    if scheme != "file":
        raise ValueError(f"checkpoint {checkpoint_dir!r} is not local ({scheme}:)")
    scoped = {_CKPT_CHECKSUM_KEY: "false", _CKPT_MANAGER_KEY: _RENAME_MANAGER}
    if width is not None:
        scoped[_SHUFFLE_KEY] = str(width)
    scoped.update(conf or {})
    prev = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def write_microbatch_files_partitioned(
    df: DataFrame, batch_col: str, n_batches: int, out_dir: str
) -> None:
    """Write ``df`` as one parquet file per micro-batch in ``out_dir``
    (file ``batch_{i:04d}`` holds the rows whose ``batch_col`` is i),
    with modification times increasing in batch order, so the file
    source replays them as ordered micro-batches. ONE Spark job: the
    source DataFrame is hash-partitioned on the batch column and
    written with ``partitionBy``, then the per-batch files are moved
    into place. ``n_batches`` separate filter+write jobs would re-run
    the upstream plan once per batch (the replay's scramble window
    made that 8x a full window over events)."""
    os.makedirs(out_dir, exist_ok=True)
    stage = os.path.join(out_dir, "_stage")
    (
        df.repartition(n_batches, batch_col)
        .write.mode("overwrite")
        .partitionBy(batch_col)
        .parquet(stage)
    )
    base = time.time() - 3600
    for i in range(n_batches):
        pdir = os.path.join(stage, f"{batch_col}={i}")
        # a batch value with zero rows writes no partition dir (e.g.
        # _time_sliced octiles on a skewed timestamp distribution);
        # skip it — an absent file is an empty micro-batch, and the
        # remaining files keep their mtime ordering
        if not os.path.isdir(pdir):
            continue
        files = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        # hash partitioning puts all rows of one batch value in one
        # task, so each partition dir holds exactly one file
        assert len(files) == 1, (pdir, files)
        dst = os.path.join(out_dir, f"batch_{i:04d}.parquet")
        os.replace(os.path.join(pdir, files[0]), dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(stage)


# Session-scoped cache of synthesized micro-batch logs. The replay
# family stands in for a Kafka broker; a broker's log exists ONCE and
# every consumer reads it — re-materializing an identical log per
# consumer query measured the harness, not the engine (each staging
# write is a full scan + repartition + parquet job). Keyed by the
# log's identity (fixture dir + slicing recipe); consumers read the
# staged files strictly read-only (their own work dirs hold only
# checkpoints), and the file source's explicit schema projects each
# consumer's column subset out of the shared superset file. The value
# records the batch-file set written at staging time: an absent batch
# file is BY DESIGN an empty micro-batch, so a bare isdir() hit check
# could not tell "empty batch" from "a /tmp reaper deleted staged
# files mid-process" and would silently serve a truncated log — the
# hit path re-validates the recorded set and rebuilds on any miss
# (r14 ADVICE).
_STAGED_LOGS: dict[tuple, tuple[str, frozenset[str]]] = {}


def staged_microbatch_log(
    key: tuple, n_batches: int, build: Callable[[], DataFrame]
) -> str:
    """Return the directory of a staged micro-batch log, writing it on
    first use (one ``write_microbatch_files_partitioned`` job) and
    serving every later request from the cache. ``key`` must capture
    everything the log's contents depend on (fixture dir, slicing
    recipe, batch count). Callers must treat the returned directory as
    read-only; it is removed at process exit, never by a query. A
    cache hit is served only if every batch file recorded at write
    time is still present — otherwise the log is restaged."""
    hit = _STAGED_LOGS.get(key)
    if hit is not None:
        path, expected = hit
        if os.path.isdir(path) and all(
            os.path.isfile(os.path.join(path, f)) for f in expected
        ):
            return path
    path = tempfile.mkdtemp(prefix="staged_log_")
    write_microbatch_files_partitioned(build(), "batch", n_batches, path)
    written = frozenset(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    _STAGED_LOGS[key] = (path, written)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path



def link_batch_files(src_dir: str, dst_dir: str, lo: int, hi: int) -> None:
    """Hardlink batch files [lo, hi) from a staged log into a per-run
    input dir. The phased replays (restart, rebroadcast) deliver their
    log in two tranches around a query stop; the file source discovers
    a tranche when it is LINKED (arrival time), while the staged
    files' own mtimes keep intra-tranche order. An absent file is an
    empty micro-batch — skipped, same as the staging writer."""
    os.makedirs(dst_dir, exist_ok=True)
    for i in range(lo, hi):
        name = f"batch_{i:04d}.parquet"
        src = os.path.join(src_dir, name)
        if os.path.exists(src):
            try:
                os.link(src, os.path.join(dst_dir, name))
            except OSError:
                # EXDEV: staged dir and per-run work dir on different
                # filesystems (e.g. TMPDIR changed between staging and
                # this run). copy2 preserves mtimes, so intra-tranche
                # order survives (r14 ADVICE).
                shutil.copy2(src, os.path.join(dst_dir, name))


def file_stream(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    """One file per micro-batch, in modification-time order."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src_dir)
    )


def drain_stream(
    stream_df: DataFrame,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    checkpoint_dir: str,
    *,
    mode: str = "append",
    width: int | None = None,
    conf: dict[str, str] | None = None,
) -> None:
    """Start ``stream_df`` with an availableNow trigger and block until
    it has drained. ``sink`` picks the sink on the writer (memory,
    parquet, foreachBatch, noop); output mode and checkpoint location
    are set here. The start runs inside :func:`ephemeral_checkpoint`
    (``width`` and ``conf`` are forwarded), so ``checkpoint_dir`` must
    be local and every scoped conf is restored when the drain ends."""
    with ephemeral_checkpoint(
        stream_df.sparkSession, checkpoint_dir, width, conf
    ):
        writer = (
            stream_df.writeStream.outputMode(mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        )
        sink(writer).start().awaitTermination()


def run_to_memory(
    stream_df: DataFrame,
    *,
    mode: str = "append",
    width: int | None = None,
    conf: dict[str, str] | None = None,
) -> DataFrame:
    """Drain the stream into a memory sink (:func:`drain_stream`) and
    return the sink's rows as a DataFrame. The checkpoint lives in a
    temp dir deleted after the drain, and the sink name is unique per
    call; its temp view is dropped before returning, so no call leaves
    a view (and the driver-held rows behind it) in the session catalog.
    The returned DataFrame keeps the sink's rows readable."""
    spark = stream_df.sparkSession
    name = f"memory_sink_{uuid.uuid4().hex[:8]}"
    try:
        with tempfile.TemporaryDirectory(
            prefix="memory_sink_", ignore_cleanup_errors=True
        ) as work:
            drain_stream(
                stream_df,
                lambda w: w.format("memory").queryName(name),
                f"{work}/ckpt",
                mode=mode,
                width=width,
                conf=conf,
            )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
