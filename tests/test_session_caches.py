"""Round-14 session-scoped caches:

- streaming/harness.py::staged_microbatch_log — synthesized replay
  logs staged once per session (the broker's log exists once for all
  consumers; per-query re-materialization measured the harness).
- functions/materialize.py::memo_checkpoint — keyed checkpoint memo
  for small cross-query relations (the recall contracts' exact top-k
  baseline, the near-dup component relation), cleared by
  drain_session.

These tests pin the cache CONTRACTS (hit identity, drain eviction,
stale-session slot handling, hardlink tranche delivery); the consumer
queries' values stay pinned by their DuckDB oracles in
test_queries_oracle.py.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from eye_of_sauron_spark.functions.materialize import (
    _CK_MEMO,
    drain_session,
    memo_checkpoint,
)
from eye_of_sauron_spark.streaming.harness import (
    _STAGED_LOGS,
    link_batch_files,
    staged_microbatch_log,
)


def test_staged_log_hit_returns_same_dir_and_files(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(0, 16).select(
            F.col("id"), (F.col("id") % 4).cast("int").alias("batch")
        )

    key = ("test_staged_log", "unit", 4)
    try:
        d1 = staged_microbatch_log(key, 4, build)
        files = sorted(os.listdir(d1))
        d2 = staged_microbatch_log(key, 4, build)
        assert d1 == d2
        assert sorted(os.listdir(d2)) == files
        assert builds == [1], "cache hit must not rebuild"
        assert files == [f"batch_{i:04d}.parquet" for i in range(4)]
        # staged data round-trips exactly
        got = sorted(
            r["id"] for r in spark.read.parquet(f"{d1}/*.parquet").collect()
        )
        assert got == list(range(16))
    finally:
        _STAGED_LOGS.pop(key, None)


def test_staged_log_rebuilds_if_dir_vanished(spark):
    import shutil

    builds = []

    def build():
        builds.append(1)
        return spark.range(0, 4).select(
            F.col("id"), F.lit(0).cast("int").alias("batch")
        )

    key = ("test_staged_log_gone", "unit", 1)
    try:
        d1 = staged_microbatch_log(key, 1, build)
        shutil.rmtree(d1)
        d2 = staged_microbatch_log(key, 1, build)
        assert builds == [1, 1], "vanished dir must trigger a rebuild"
        assert os.path.isdir(d2)
    finally:
        _STAGED_LOGS.pop(key, None)


def test_staged_log_rebuilds_if_batch_file_reaped(spark):
    """An absent batch file is by design an empty micro-batch, so the
    hit path must distinguish 'staged empty' from 'a /tmp reaper
    deleted staged files mid-process': partial deletion triggers a
    full restage instead of silently serving a truncated log
    (r14 ADVICE, harness.py)."""
    builds = []

    def build():
        builds.append(1)
        return spark.range(0, 16).select(
            F.col("id"), (F.col("id") % 4).cast("int").alias("batch")
        )

    key = ("test_staged_log_reaped", "unit", 4)
    try:
        d1 = staged_microbatch_log(key, 4, build)
        os.remove(os.path.join(d1, "batch_0002.parquet"))
        d2 = staged_microbatch_log(key, 4, build)
        assert builds == [1, 1], "reaped batch file must trigger restage"
        assert sorted(
            f for f in os.listdir(d2) if f.endswith(".parquet")
        ) == [f"batch_{i:04d}.parquet" for i in range(4)]
        got = sorted(
            r["id"] for r in spark.read.parquet(f"{d2}/*.parquet").collect()
        )
        assert got == list(range(16))
    finally:
        _STAGED_LOGS.pop(key, None)


def test_link_batch_files_delivers_tranches(spark, tmp_path):
    src = str(tmp_path / "staged")
    dst = str(tmp_path / "in")
    os.makedirs(src)
    for i in (0, 1, 3):  # batch 2 absent = empty micro-batch
        with open(f"{src}/batch_{i:04d}.parquet", "wb") as f:
            f.write(b"x")
    link_batch_files(src, dst, 0, 2)
    assert sorted(os.listdir(dst)) == ["batch_0000.parquet", "batch_0001.parquet"]
    link_batch_files(src, dst, 2, 4)
    assert sorted(os.listdir(dst)) == [
        "batch_0000.parquet",
        "batch_0001.parquet",
        "batch_0003.parquet",
    ]
    # hardlink, not copy: same inode, staged mtime preserved
    assert os.stat(f"{dst}/batch_0000.parquet").st_ino == os.stat(
        f"{src}/batch_0000.parquet"
    ).st_ino


def test_shared_events_log_equals_per_consumer_slicing(spark, sf_dir):
    """The claim the 8-consumer sharing rests on: reading the staged
    5-column superset log through a consumer's narrower
    ``_events_stream`` schema yields EXACTLY the rows that consumer's
    own per-query write produced before (the batch octile is a pure
    function of ts, so slicing is consumer-independent; parquet
    projects by name)."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.sources import load_table
    from eye_of_sauron_spark.streaming.harness import run_to_memory
    from eye_of_sauron_spark.streaming.replay import _events_stream, _time_sliced

    schema = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
    stream = _events_stream(spark, sf_dir, schema)
    assert stream.columns == ["user_id", "ts", "value"]
    # the log the stream reads, under its unchanged staging key
    staged, _ = _STAGED_LOGS[("events_sliced", os.path.realpath(sf_dir), 8)]
    # the session-window consumer's subset, derived per-batch-file so
    # the BATCH ASSIGNMENT is compared, not just the overall multiset
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    want = {
        r["batch"]: r["n"]
        for r in _time_sliced(ev, 8).groupBy("batch").count()
        .withColumnRenamed("count", "n").collect()
    }
    got = {}
    for i in range(8):
        p = f"{staged}/batch_{i:04d}.parquet"
        if os.path.exists(p):
            df = spark.read.schema(schema).parquet(p)
            got[i] = df.count()
            assert df.columns == ["user_id", "ts", "value"]
    assert got == want
    # and the rows the stream delivers match exactly (checksum over rows)
    sub = run_to_memory(stream)
    chk = lambda df: df.agg(  # noqa: E731
        F.sum(F.crc32(F.concat_ws("|", "user_id", "ts", "value"))).alias("c"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert chk(sub) == chk(ev)


def test_memo_checkpoint_hit_and_drain_eviction(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(0, 8).select(F.col("id").alias("k"))

    key = ("test_memo_ck", "unit")
    df1 = memo_checkpoint(spark, key, build)
    df2 = memo_checkpoint(spark, key, build)
    assert builds == [1], "cache hit must not rebuild"
    assert df1 is df2
    assert sorted(r["k"] for r in df2.collect()) == list(range(8))
    full_key = (spark.sparkContext.applicationId, *key)
    assert full_key in _CK_MEMO
    drain_session(spark)
    assert full_key not in _CK_MEMO, "drain must clear the slot"
    # post-drain rebuild works (fresh checkpoint, fresh blocks)
    df3 = memo_checkpoint(spark, key, build)
    assert builds == [1, 1]
    assert sorted(r["k"] for r in df3.collect()) == list(range(8))
    drain_session(spark)


def test_memo_checkpoint_drops_stale_session_slots(spark):
    """A slot keyed to a dead SparkContext must be dropped WITHOUT
    unpersisting its ids (id collision with live blocks — see
    memo_checkpoint), and must not satisfy lookups."""
    stale_key = ("dead-app-id", "test_memo_stale", "unit")
    _CK_MEMO[stale_key] = (None, [999999])
    try:
        df = memo_checkpoint(
            spark,
            ("test_memo_stale", "unit"),
            lambda: spark.range(0, 3),
        )
        assert df.count() == 3
        assert stale_key not in _CK_MEMO, "stale-session slot must be dropped"
    finally:
        _CK_MEMO.pop(stale_key, None)
        drain_session(spark)


def test_ephemeral_checkpoint_scopes_and_restores(spark, tmp_path):
    """The throwaway-checkpoint confs are SCOPED: checksums off, the
    rename-based file manager on and (when given) the state width and
    extra confs set inside the context; each restored to whatever held before on every
    exit path (set value, default/unset, nesting, exception)."""
    from eye_of_sauron_spark.streaming.harness import (
        _CKPT_CHECKSUM_KEY,
        _CKPT_MANAGER_KEY,
        _RENAME_MANAGER,
        _SHUFFLE_KEY,
        ephemeral_checkpoint,
    )

    ckpt = str(tmp_path / "ckpt")
    keys = (_CKPT_CHECKSUM_KEY, _CKPT_MANAGER_KEY, _SHUFFLE_KEY)

    def confs():
        return {k: spark.conf.get(k, None) for k in keys}

    default = confs()  # both keys unset: checksums on, Spark's manager
    assert default[_CKPT_CHECKSUM_KEY] is None
    assert default[_CKPT_MANAGER_KEY] is None
    assert spark.conf.get(_CKPT_CHECKSUM_KEY) == "true"
    inner = {_CKPT_CHECKSUM_KEY: "false", _CKPT_MANAGER_KEY: _RENAME_MANAGER}
    with ephemeral_checkpoint(spark, ckpt, width=3):
        assert confs() == {**inner, _SHUFFLE_KEY: "3"}
        with ephemeral_checkpoint(spark, ckpt):  # nested, no width
            assert confs() == {**inner, _SHUFFLE_KEY: "3"}
        with ephemeral_checkpoint(spark, ckpt, width=1):  # nested width
            assert confs() == {**inner, _SHUFFLE_KEY: "1"}
        extra = "spark.sql.streaming.minBatchesToRetain"
        with ephemeral_checkpoint(spark, ckpt, conf={extra: "7"}):
            assert spark.conf.get(extra) == "7"
        assert spark.conf.get(extra, None) is None
        assert confs() == {**inner, _SHUFFLE_KEY: "3"}
    assert confs() == default

    preset = {
        _CKPT_CHECKSUM_KEY: "true",
        _CKPT_MANAGER_KEY: "org.example.PresetManager",
        _SHUFFLE_KEY: "5",
    }
    for k, v in preset.items():
        spark.conf.set(k, v)
    try:
        try:
            with ephemeral_checkpoint(spark, ckpt, width=2):
                assert confs() == {**inner, _SHUFFLE_KEY: "2"}
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert confs() == preset
    finally:
        spark.conf.unset(_CKPT_CHECKSUM_KEY)
        spark.conf.unset(_CKPT_MANAGER_KEY)
        spark.conf.set(_SHUFFLE_KEY, default[_SHUFFLE_KEY])
    assert confs() == default

    try:  # an exception with the keys at their unset defaults
        with ephemeral_checkpoint(spark, ckpt, width=2):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert confs() == default


def test_ephemeral_checkpoint_rejects_non_local_dir(spark):
    """The rename-based manager is only atomic on local disk, so a
    remote checkpoint dir fails loudly before any conf or stream is
    touched — through the scope and through drain_stream."""
    import pytest

    from eye_of_sauron_spark.streaming.harness import (
        _CKPT_MANAGER_KEY,
        drain_stream,
        ephemeral_checkpoint,
    )

    remote = "hdfs://namenode:8020/tmp/replay_ckpt"
    with pytest.raises(ValueError, match="hdfs"):
        with ephemeral_checkpoint(spark, remote):
            pass
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="hdfs"):
        drain_stream(stream, lambda w: w.format("noop"), remote)
    assert spark.conf.get(_CKPT_MANAGER_KEY, None) is None
    assert not spark.streams.active
    # local spellings pass
    with ephemeral_checkpoint(spark, "file:///tmp/replay_ckpt"):
        pass


def test_stream_outside_scope_keeps_default_manager(spark, tmp_path):
    """A stream started after a scoped drain sees the manager key
    unset, so its checkpoint goes through Spark's default
    (FileContext-based) manager; the scoped drain itself ran on the
    rename-based one."""
    from eye_of_sauron_spark.streaming.harness import (
        _CKPT_MANAGER_KEY,
        ephemeral_checkpoint,
        file_stream,
        staged_microbatch_log,
    )

    log = staged_microbatch_log(
        ("test_outside_scope", 2),
        2,
        lambda: spark.range(0, 8).select(
            (F.col("id") % 2).cast("int").alias("batch"), F.col("id")
        ),
    )

    def drain(name: str, ckpt: str):
        q = (
            file_stream(spark, log, "id BIGINT")
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q._jsq.streamingQuery().offsetLog().fileManager()

    try:
        scoped_dir = str(tmp_path / "scoped")
        with ephemeral_checkpoint(spark, scoped_dir, width=1):
            scoped = drain("scoped_drain", scoped_dir)
        assert spark.conf.get(_CKPT_MANAGER_KEY, None) is None
        outside = drain("outside_scope", str(tmp_path / "outside"))
        assert spark.conf.get(_CKPT_MANAGER_KEY, None) is None
    finally:
        spark.catalog.dropTempView("scoped_drain")
        spark.catalog.dropTempView("outside_scope")
    assert scoped.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )
    assert "FileSystemBased" not in outside.toString()


def test_io_sentinel_probe_restores_session_state(spark):
    """The bench-window IO probe (tools/sentinel_probe.py::io_probe)
    drains a checkpointed micro-stream on the SHARED session, so it
    carries the same SERIAL-ONLY restore-on-exit contract as the
    replay family (VERDICT r16 #6): shuffle-partition,
    checkpoint-checksum and checkpoint-manager confs restored, the memory-sink temp view
    dropped, and the throwaway checkpoint dir gone — while the drain
    itself returns a positive wall."""
    import glob
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.sentinel_probe import io_probe

    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
    checksum_key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    checksum_before = spark.conf.get(checksum_key)
    manager_key = "spark.sql.streaming.checkpointFileManagerClass"
    manager_before = spark.conf.get(manager_key, None)
    views_before = {v.name for v in spark.catalog.listTables()}
    # snapshot, don't glob-assert-empty: the shared tempdir may hold
    # leftovers from a SIGKILLed probe process that are not this
    # call's to clean (code-review r17)
    ckpt_glob = os.path.join(tempfile.gettempdir(), "memory_sink_*")
    ckpts_before = set(glob.glob(ckpt_glob))

    dt = io_probe(spark)
    assert dt > 0

    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
    assert spark.conf.get(checksum_key) == checksum_before
    assert spark.conf.get(manager_key, None) == manager_before
    views_after = {v.name for v in spark.catalog.listTables()}
    assert views_after == views_before, "memory-sink temp view leaked"
    assert not set(glob.glob(ckpt_glob)) - ckpts_before, (
        "throwaway checkpoint dir leaked"
    )
