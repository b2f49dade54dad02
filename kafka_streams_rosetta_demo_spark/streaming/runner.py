"""Streaming query execution: one topology runner over a parquet landing zone.

:func:`run_topology` is the one entry point every registered ``streaming_*``
query goes through — D-Streams' "a stream is a repeated deterministic batch
job" made one explicit shape, the way each reference app builds its one
topology through one ``StreamsBuilder``. It owns the whole protocol:

- **source** — stage a frame (or a list of frames, landed in order with
  spaced mtimes) into a landing directory, or take an existing landing path
  plus a glob; read the schema; ``readStream`` with ``maxFilesPerTrigger=1``
  and apply the caller's topology;
- **state partitions** — one ``state`` argument picks the state-exchange
  size (:func:`state_shuffle` documents the three rules);
- **directories** — one temp tree holds staging, checkpoint and sink, and
  is removed at the end;
- **sink** — update mode through :func:`run_update_query_to_df` when
  ``keys`` is given, append mode through :func:`run_append_query_to_df`
  otherwise; either way the result comes back pinned.

Conf contract: every conf the runner sets goes through :func:`scoped_conf`,
which restores the caller's PRIOR value on exit (or unsets the key if it was
unset), so a query leaves the session's ``shuffle.partitions`` and
``streaming.checkpointFileManagerClass`` as it found them. (The nanos-as-long
read conf that :func:`file_stream` pins is the exception, like the
registry's UTC pin: lazily returned batch frames still need it after the
call.) Every stream starts in :func:`_drain`, which picks the checkpoint
manager from the checkpoint path alone (:func:`checkpoint_file_manager`): a
bare path or a ``file:`` URI runs on Spark's FileSystem-API manager for the
whole run, from ``start()`` until ``awaitTermination()`` returns, because
the file source opens its metadata log on the stream thread after
``start()``. Spark's default FileContext manager resolves links on the
local file system through Hadoop's ``FileUtil.readLink``, which forks a
``readlink`` process: 296 of them per 7-trigger drain, which cost each
trigger's ``latestOffset``, ``walCommit``, ``commitOffsets`` and state
commit ~30 ms apiece on a 4-vCPU host. On a POSIX local file system both
managers check that the target is absent and then rename, the rename is
atomic, and neither fsyncs. Through Hadoop's local checksummed file
system both write and check the same ``.crc`` files, so the two leave the
same checkpoint tree and either restarts on the other's checkpoints. Any
other scheme (``hdfs://``, ``s3a://``, ``abfss://``) keeps Spark's default.

T4/T6 mapping: the checkpoint directory is the engine's state store +
offsets log — the equivalent of the reference's RocksDB + changelog topic
and committed consumer offsets (``CallsAggregationApp.java:106``;
``auto.offset.reset=earliest`` ``:29``). Each micro-batch writes its
``sources/0/N``, ``offsets/N`` and ``commits/N`` entries and a state
``N.delta`` file through the checkpoint manager, each a write-then-rename
of a temp file — on a local path a plain POSIX rename, with no ``readlink``
fork. Restarting a query on the same checkpoint resumes from committed
progress and reprocesses nothing, which is exactly the at-least-once
contract (T5) the reference runs under. Every run here is
``trigger(availableNow=True)`` over a file source, so no broker is needed.
"""

from __future__ import annotations

import fnmatch
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..session import DEFAULT_SHUFFLE_PARTITIONS, ensure_conf
from ..sources.parquet import events_schema as footer_schema

# How many bounded-state keys one state-store partition is sized to hold.
# State rows here are a key plus a handful of longs (tens of bytes), so a
# partition at this bound carries well under a megabyte of state — far
# below any spill threshold — while the per-partition fixed cost stays paid
# once, not |shuffle.partitions| times.
_KEYS_PER_STATE_PARTITION = 4096

# One state-store partition per this many bytes of BOUNDED backlog
# (parquet-encoded, on disk). ~32 MiB of columnar input inflates to roughly
# 100-300 MB of raw rows — the guide's 100 MB-1 GB shuffle-partition target —
# and keyed streaming state is a SUBSET of the rows that arrived (an
# aggregate row per key, one sighting per dedup key, a watermark's worth of
# join rows), so backlog bytes bound state volume from above.
_BACKLOG_BYTES_PER_STATE_PARTITION = 32 * 1024 * 1024

_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str | None):
    """Set ``key`` to ``value`` for the ``with`` block, then restore the
    caller's PRIOR value, or unset the key if it was unset. ``None`` leaves
    the conf untouched."""
    if value is None:
        yield
        return
    prior = spark.conf.get(key, None)
    ensure_conf(spark, key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            ensure_conf(spark, key, prior)


def checkpoint_file_manager(checkpoint_dir: str) -> str | None:
    """The checkpoint manager class a run on ``checkpoint_dir`` pins: Spark's
    FileSystem-API manager for a bare path or a ``file:`` URI, None (Spark's
    default) for any other scheme. A bare path resolves against
    ``fs.defaultFS``, which is ``file:`` in every session this package
    builds. The module docstring gives the reason."""
    if urlsplit(checkpoint_dir).scheme in ("", "file"):
        return _FILESYSTEM_CHECKPOINT_MANAGER
    return None


def _drain(spark: SparkSession, writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """The runner's one streaming start: run ``writer`` on ``checkpoint_dir``
    with ``availableNow`` until it has drained, under the checkpoint manager
    :func:`checkpoint_file_manager` picks."""
    manager = checkpoint_file_manager(checkpoint_dir)
    with scoped_conf(spark, _CHECKPOINT_MANAGER_KEY, manager):
        (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def state_shuffle(spark: SparkSession, parts: int):
    """Pin ``spark.sql.shuffle.partitions`` to ``parts`` for one streaming
    run through :func:`scoped_conf`, which restores the caller's PRIOR value
    on exit.

    Why the state exchange is sized at all (guide §2.2/§2.4 applied to the
    one exchange AQE cannot touch): every micro-batch pays a FIXED cost per
    state-store partition — a task, a state commit (delta file + fsync) and
    maintenance — even when the partition holds zero keys, and AQE never
    coalesces the state exchange because the count freezes into the
    checkpoint at the first batch. With the session default of
    ``$SPARK_GRAFT_CPUS`` (32) partitions and a state space of |sources| ≈ 8
    keys, a 3-micro-batch run spent most of its wall time committing empty
    state: 10.2 s at 32 partitions vs 4.9 s at 1–2 on the per-source totals
    shape, identical results; backlog sizing took the data-grain topologies
    to 0.20–0.68x (OPTIMIZATION_r14.md §streaming). A plain session's 200
    would mean 200 state stores per micro-batch.

    The count comes from one of three rules, all clamped to
    ``[1, DEFAULT_SHUFFLE_PARTITIONS]`` and none derived from the machine:

    - **key bound** (:func:`bounded_state_shuffle`) — keyed state bounded BY
      CONSTRUCTION (|sources|-row model state, a ≤1000-cell grid):
      ``ceil(key_bound / 4096)``. The same handful of partitions holds on a
      100 TB ingest, because the heavy per-row work runs in the map-side
      partial aggregate at scan parallelism BEFORE this exchange; only
      |keys| pre-aggregated rows ever cross it.
    - **backlog** (:func:`backlog_state_shuffle`) — DATA-GRAIN keys (per-user
      windows, per-URL dedup sightings, stream-stream join rows):
      ``ceil(backlog_bytes / 32 MiB)``. An ``availableNow`` run admits
      exactly the staged backlog and keyed state never exceeds the rows
      that arrived, so this is AQE's ``advisoryPartitionSizeInBytes`` sizing
      done before the query starts. A backlog past ~1 GiB runs at the
      default exactly as before. A ZERO-byte backlog (missing path, or no
      ``.parquet`` files) keeps the default: there is nothing to size from,
      and serializing every shuffle onto one task on a typo'd path would be
      the opposite of the adaptive contract (ADVICE r14).
    - **session default** — ``DEFAULT_SHUFFLE_PARTITIONS``: unbounded keys
      with no staged backlog, stateless screens, and the topologies whose
      stateful stage runs per-row PYTHON work (``applyInPandasWithState``).
      Those must NOT be sized down: their cost scales with arriving rows,
      not state commits, and fewer partitions serialize the Python workers
      (measured 1.19x and 1.57x WORSE — OPTIMIZATION_r14.md).
    """
    return scoped_conf(spark, "spark.sql.shuffle.partitions", str(parts))


def _clamp(parts: int) -> int:
    return max(1, min(DEFAULT_SHUFFLE_PARTITIONS, parts))


def bounded_state_shuffle(spark: SparkSession, key_bound: int):
    """Key-bound rule of :func:`state_shuffle`: ``ceil(key_bound / 4096)``."""
    return state_shuffle(spark, _clamp(-(-key_bound // _KEYS_PER_STATE_PARTITION)))


def backlog_state_shuffle(spark: SparkSession, *paths: str):
    """Backlog rule of :func:`state_shuffle`: ``ceil(bytes / 32 MiB)`` over
    the parquet files under ``paths``; the default when that is zero."""
    n = backlog_bytes(*paths)
    if n == 0:
        return state_shuffle(spark, DEFAULT_SHUFFLE_PARTITIONS)
    return state_shuffle(spark, _clamp(-(-n // _BACKLOG_BYTES_PER_STATE_PARTITION)))


def backlog_bytes(*paths: str) -> int:
    """Total on-disk bytes of the parquet files under each staged-backlog
    path (a file, or a directory walked recursively). This is the exact
    volume a bounded ``availableNow`` run will ever admit — known up front
    because the whole backlog is staged before the query starts."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for name in files:
                    if name.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, name))
    return total


# Result frames whose pin degraded to DISK_ONLY. Unlike the artifact memos
# these are RETURNED to the caller (who may still be reading them), so the
# runner cannot unpersist them behind the caller's back — instead the
# harnesses that run many queries per session (bench reps, sweeps, scaling
# cells) call release_streaming_result_pins() between queries, once the
# previous result is dead, so degraded sessions don't stack disk blocks
# for the life of the process.
_STREAM_RESULT_PINS: list[DataFrame] = []


def release_streaming_result_pins() -> None:
    """Unpersist every DISK_ONLY-degraded streaming result pinned so far.
    Call between queries (after the previous result is fully consumed);
    a no-op when nothing degraded — the common in-budget case."""
    from ..queries.artifacts import _release_pin_list

    _release_pin_list(_STREAM_RESULT_PINS)


def _pin_result(df: DataFrame, spark: SparkSession, what: str) -> DataFrame:
    """Pin a finished streaming result through the shared storage-budget
    boundary (``queries.artifacts.pin_with_budget``): within budget it is
    the eager ``localCheckpoint`` this adapter always used; over budget it
    degrades to an eager serialized ``persist(DISK_ONLY)`` instead of
    OOMing the JVM. The bare-1g sf2.0 sweep showed the unguarded result
    checkpoint was the next OOM site after the round-9 artifact-layer fix:
    the result of a 20x-volume streaming aggregate does not fit a 1g heap
    as deserialized in-memory blocks, but streams to local disk fine.
    Lazy import: queries -> streaming is the normal dependency direction;
    this is the one place streaming reaches back for a shared policy."""
    from ..queries.artifacts import pin_with_budget

    return pin_with_budget(df, spark, what, _STREAM_RESULT_PINS)


def checkpoint_tmpdir(prefix: str) -> tempfile.TemporaryDirectory:
    """Temporary checkpoint/sink directory hardened against Spark's async
    state-store maintenance thread.

    ``HDFSBackedStateStoreProvider`` runs a background maintenance pool that
    keeps writing ``.snapshot``/``.delta`` files into the checkpoint dir
    *after* ``query.awaitTermination()`` returns; under a loaded session the
    pool can lag far enough that ``TemporaryDirectory.__exit__``'s rmtree
    races it and dies with ``OSError: Directory not empty``. The state is
    disposable by construction here (every caller runs availableNow to
    completion and never restarts on the same checkpoint), so a best-effort
    cleanup is the correct contract: leftover files land under $TMPDIR and
    are reaped by the OS, while the query result is unaffected.
    """
    return tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
    path_glob_filter: str | None = None,
) -> DataFrame:
    """S1 stand-in without a broker: a parquet landing-zone stream. The
    schema must be explicit (streaming requires it); nanos timestamps follow
    the same long-read contract as the batch loader. ``path`` must be a
    directory (file-source contract); use ``path_glob_filter`` to select one
    table's files out of a shared directory."""
    ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path_glob_filter is not None:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.parquet(path)


def _land(frames: Sequence[DataFrame], landing: str, scratch: str) -> None:
    """Write each frame in order and move its part files into the flat
    ``landing`` directory with spaced mtimes: the file source orders
    same-millisecond files arbitrarily, and delivery order matters under a
    watermark."""
    os.makedirs(landing)
    n = 0
    for i, frame in enumerate(frames):
        part = os.path.join(scratch, f"stage{i}")
        frame.write.parquet(part)
        for name in sorted(os.listdir(part)):
            if name.endswith(".parquet"):
                dst = os.path.join(landing, f"{n:03d}.parquet")
                shutil.move(os.path.join(part, name), dst)
                os.utime(dst, (1_700_000_000 + n * 10, 1_700_000_000 + n * 10))
                n += 1


def run_topology(
    spark: SparkSession,
    source: str | DataFrame | Sequence[DataFrame],
    build: Callable[[DataFrame], DataFrame] | None = None,
    *,
    glob: str | None = None,
    keys: list[str] | None = None,
    state: int | str | None = None,
    batch_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Run one streaming topology to completion and return its pinned result.

    ``source`` is a frame or a list of frames to stage (each lands as its
    own part files, one file per micro-batch), or an existing landing
    directory whose files matching ``glob`` are the stream. ``build`` maps
    the raw stream to the topology's output (the stream itself when None,
    as for the stateless screens whose work is all in ``batch_fn``).
    ``state`` picks the state-partition rule (:func:`state_shuffle`): an
    int key bound, ``"backlog"`` (the bytes the stream will read — only the
    matched files of a landing path), or None for the session default.
    With ``keys`` the run is update mode, compacted last-write-per-key on
    ``keys`` after the optional per-batch ``batch_fn``; without, append
    mode."""
    if batch_fn is not None and keys is None:
        raise ValueError("batch_fn needs keys: it runs in the update-mode sink")
    with checkpoint_tmpdir("topology_") as tree:
        if isinstance(source, str):
            files = [
                os.path.join(source, n)
                for n in sorted(os.listdir(source))
                if fnmatch.fnmatch(n, glob or "*")
            ]
            if not files:
                raise FileNotFoundError(f"no files match {glob!r} under {source}")
            # the footer schema matches whatever ts encoding the data ships
            # with (nanos-as-long or TIMESTAMP/NTZ); cached per file, so a
            # stream start pays no schema-read job
            stream = file_stream(
                spark,
                source,
                footer_schema(spark, files[0]),
                max_files_per_trigger=1,
                path_glob_filter=glob,
            )
        else:
            landing = os.path.join(tree, "landing")
            _land([source] if isinstance(source, DataFrame) else source, landing, tree)
            stream = (
                spark.readStream.schema(spark.read.parquet(landing).schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(landing)
            )
            files = [landing]
        result = build(stream) if build is not None else stream
        if state == "backlog":
            scope = backlog_state_shuffle(spark, *files)
        elif state is None:
            scope = state_shuffle(spark, DEFAULT_SHUFFLE_PARTITIONS)
        else:
            scope = bounded_state_shuffle(spark, state)
        ckpt, sink = os.path.join(tree, "checkpoint"), os.path.join(tree, "sink")
        with scope:
            if keys is None:
                return run_append_query_to_df(result, ckpt, sink)
            return run_update_query_to_df(result, keys, ckpt, sink, batch_fn=batch_fn)


def run_update_query_to_parquet_changelog(
    result: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    batch_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """The production-shaped update-mode sink: each micro-batch appends its
    changed aggregate rows to a parquet changelog (stamped with the batch
    id) — entirely executor-side, nothing moves driver-ward, so it scales to
    billions of keys. The changelog is the lakehouse analogue of the
    compacted output topic; read it back with
    :func:`parquet_changelog_snapshot` for last-write-wins state (update
    mode re-emits a key whenever it changes, so last write per key is the
    compacted-topic read a downstream ``builder.table`` would see).

    ``batch_fn`` lets a per-batch transform (e.g. the broadcast enrichment
    join — the reference's stream–table leftJoin run inside
    ``foreachBatch``) execute on the executors before the append.
    """
    from pyspark.sql import functions as F

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_fn(batch_df) if batch_fn is not None else batch_df
        (
            out.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    writer = result.writeStream.outputMode("update").foreachBatch(sink)
    _drain(result.sparkSession, writer, checkpoint_dir)


def parquet_changelog_snapshot(
    spark: SparkSession, out_dir: str, key_cols: list[str]
) -> DataFrame:
    """Compact a parquet changelog to its final state: last write per key,
    where "last" is the highest micro-batch id (update mode emits a key at
    most once per batch, so batch id is a total order per key). One window
    over the (small, key-cardinality-bounded) changelog — the same read a
    downstream ``builder.table`` does over a compacted topic."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    log = spark.read.parquet(out_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.col("_batch_id").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_batch_id", "_rn")
    )


def run_update_query_to_df(
    result: DataFrame,
    key_cols: list[str],
    checkpoint_dir: str,
    out_dir: str,
    batch_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Update-mode run through the production sink shape, end to end: the
    executor-side parquet changelog (:func:`run_update_query_to_parquet_changelog`)
    followed by the last-write-per-key compaction
    (:func:`parquet_changelog_snapshot`). Nothing moves through the driver —
    no ``collect``, no ``toPandas`` — so the path holds at any key
    cardinality.

    LOCAL-MODE ADAPTER NOTE (same contract as :func:`run_append_query_to_df`):
    the returned snapshot pins to executor memory with an eager
    ``localCheckpoint`` so the caller may delete ``out_dir`` (the runner
    sinks into a temporary directory). ``localCheckpoint`` blocks are
    not fault-tolerant — on a multi-executor cluster an executor loss after
    the source files are gone truncates lineage unrecoverably. In production
    the read-back never happens (downstream consumers read the changelog /
    compacted topic directly), so keep the sink directory when running
    beyond local mode.
    """
    run_update_query_to_parquet_changelog(
        result, checkpoint_dir, out_dir, batch_fn=batch_fn
    )
    spark = result.sparkSession
    if not _changelog_has_files(out_dir):
        # schema of the post-batch_fn frame, derived without running a batch:
        # batch_fn is pure DataFrame composition, so applying it to an empty
        # frame of the pre-sink schema yields the sink schema
        schema = (
            result.schema
            if batch_fn is None
            else batch_fn(spark.createDataFrame([], result.schema)).schema
        )
        return spark.createDataFrame([], schema)
    snap = parquet_changelog_snapshot(spark, out_dir, key_cols)
    return _pin_result(snap, spark, "streaming update-mode snapshot")


def _changelog_has_files(out_dir: str) -> bool:
    """Emptiness probe for the plain-append changelog sink (which has no
    ``_spark_metadata`` commit log — writes happen through the batch writer
    inside ``foreachBatch``, committed by the streaming checkpoint)."""
    return os.path.isdir(out_dir) and any(
        n.endswith(".parquet") for n in os.listdir(out_dir)
    )


def _file_sink_has_commits(out_dir: str) -> bool:
    """Emptiness probe for the NATIVE parquet streaming sink: consult the
    sink's own ``_spark_metadata`` commit log (the source of truth for what
    the sink has committed — a directory listing would also see orphaned
    files from failed tasks, and misses nothing the log has). Each commit
    file is a ``v1`` header followed by one JSON ``SinkFileStatus`` per
    written file; any ``add`` action means the sink holds data."""
    import json

    meta = os.path.join(out_dir, "_spark_metadata")
    if not os.path.isdir(meta):
        return False
    for name in os.listdir(meta):
        if name.startswith(".") or name.endswith((".tmp", ".crc")):
            continue
        path = os.path.join(meta, name)
        if not os.path.isfile(path):
            continue
        try:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if rec.get("action", "add") == "add":
                        return True
        except OSError:
            continue
    return False


def idempotent_parquet_sink(out_dir: str) -> Callable[[DataFrame, int], None]:
    """The EXACTLY-ONCE OUTPUT upgrade over the at-least-once contract (T5):
    a ``foreachBatch`` writer that lands each micro-batch in its own
    ``batch_id=<id>`` directory with ``mode("overwrite")``. Structured
    Streaming guarantees ``foreachBatch`` is called with the SAME batch_id
    when a batch is redelivered (failure after the sink write but before
    the checkpoint commit), so the retry OVERWRITES its own partition
    instead of appending a duplicate — at-least-once delivery + an
    idempotent, batchId-keyed write = exactly-once output, the pattern the
    Structured Streaming programming guide prescribes for
    non-transactional sinks. The write is the ordinary executor-side batch
    parquet writer; nothing moves through the driver. Read the sink back
    as one dataset with ``spark.read.parquet(out_dir)`` (partition
    discovery exposes ``batch_id``). Redelivery pinned in
    tests/test_streaming.py::test_idempotent_sink_survives_batch_redelivery
    (the naive append sink provably duplicates under the same forced
    replay)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return sink


def run_append_query_to_df(
    result: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Append-mode run through the PRODUCTION sink shape: the native
    parquet streaming sink writes each micro-batch's finalized rows
    entirely executor-side (no foreachBatch, no driver collect, no Python
    row round-trip — the lakehouse analogue of a Kafka producer). Under
    append mode a (key, window) row is emitted at most once across the
    checkpoint's lifetime — the suppress/final-emission contract — so there
    is no compaction to do. The result reads back and pins to executor
    memory with an eager ``localCheckpoint`` so the caller may delete
    ``out_dir`` immediately. At scale the read-back never happens —
    downstream consumers read the sink directly; here it turns the finished
    stream into the query's return value.

    LOCAL-MODE ADAPTER NOTE: ``localCheckpoint`` blocks live in executor
    memory and are NOT fault-tolerant — on a multi-executor cluster, losing
    an executor after the caller deletes ``out_dir`` truncates lineage
    unrecoverably. Fine for the local gate (one JVM, no executor loss
    mode); beyond local mode, keep the sink directory and read it lazily,
    or ``persist``+materialize to a durable store before deleting. The
    emptiness probe consults the sink's ``_spark_metadata`` commit log —
    the sink's source of truth — not a directory listing."""
    spark = result.sparkSession
    writer = (
        result.writeStream.outputMode("append").format("parquet").option("path", out_dir)
    )
    _drain(spark, writer, checkpoint_dir)
    if not _file_sink_has_commits(out_dir):
        return spark.createDataFrame([], result.schema)
    return _pin_result(
        spark.read.schema(result.schema).parquet(out_dir),
        spark,
        "streaming append-mode sink read-back",
    )
