"""Continuous CDC apply — the reference category's binlog→ClickHouse
loop as a real Structured Streaming job (SURVEY.md §3.1 entry point 2).

readStream(event slices) → writeStream.foreachBatch(merge) with
versioned parquet state: each micro-batch unions into the previous
committed state and keeps the latest row per PK (a4 semantics),
committing a new state version directory — never overwriting the one
being read (read-then-overwrite of the same path is the classic
self-clobber). Tombstones ('error' events) are retained in state and
filtered on read, exactly ReplacingMergeTree + FINAL.

EXACTLY-ONCE ON RESTART (the binlog-position analog, SURVEY §3.1
step 5): the streaming checkpoint WAL pins each micro-batch's offsets,
so a re-delivered batch after a crash carries the same rows and the
same batch_id. The merge below is idempotent per batch_id — state
versions are keyed v{batch_id}, the previous state is the largest
COMMITTED version strictly below the incoming batch_id (discovered
from the sink itself, never from process memory), and a re-run
overwrites its own partial output. Kill the process mid-batch and
restart with the same checkpointLocation: no duplicate, no lost row.
This is proven across a query restart in
tests/test_streaming.py::test_cdc_checkpoint_kill_and_resume.

At scale the state store would be a partitioned table (or Delta/
Iceberg MERGE) and version discovery a manifest/log read instead of a
directory listing; the micro-batch merge below is partition-pruned by
PK range the same way.
"""

from __future__ import annotations

import json
import os
import uuid

from mysql_to_clickhouse_spark.functions.tmputil import scratch_dir

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mysql_to_clickhouse_spark.streaming.replay import write_replay_slices


_REPLICA_COLS = ["user_id", "event_id", "ts_us", "event_type", "value"]
_EVENT_ORDER = ("ts_us", "event_id")
_LOG_ORDER = ("log_file", "log_pos", "seq")
# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _latest_per_key(df: DataFrame, order=_EVENT_ORDER) -> DataFrame:
    """Latest row per ``user_id``: the one that sorts last on ``order``."""
    w = Window.partitionBy("user_id").orderBy(*(F.desc(c) for c in order))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _committed_versions(state_root: str) -> list[int]:
    """Batch ids of fully-committed state versions (v{id}/_SUCCESS).

    A version dir without its _SUCCESS marker is a torn write from a
    crashed batch — invisible here, and overwritten when that batch_id
    is re-delivered after restart."""
    out = []
    for name in os.listdir(state_root):
        if name.startswith("v") and name[1:].isdigit():
            if os.path.exists(os.path.join(state_root, name, "_SUCCESS")):
                out.append(int(name[1:]))
    return sorted(out)


def _make_apply(state_root: str, cols: list, order,
                fail_at_batch: int | None = None):
    """foreachBatch merge closure over a versioned parquet state root:
    each micro-batch is selected to ``cols``, and per PK the row that
    sorts last on the ``order`` columns wins.

    Idempotent per batch_id: previous state = largest committed version
    < batch_id (so a re-delivered batch never reads its own partial
    output), written with overwrite to v{batch_id}. ``fail_at_batch``
    injects a crash BEFORE the write — the kill half of the
    kill-and-resume recovery test."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if fail_at_batch is not None and batch_id == fail_at_batch:
            raise RuntimeError(f"injected crash at batch {batch_id}")
        batch = batch.select(*cols)
        prior = [v for v in _committed_versions(state_root) if v < batch_id]
        if prior:
            # every version was written from batches of this shape, so
            # its schema is known: reading with it skips a parquet
            # schema-inference job per micro-batch
            prev = batch.sparkSession.read.schema(batch.schema).parquet(
                os.path.join(state_root, f"v{max(prior)}")
            )
            batch = prev.unionByName(batch)
        _latest_per_key(batch, order).write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id}")
        )

    return apply_batch


def _read_final(spark: SparkSession, state_root: str, live) -> DataFrame:
    """FINAL read of the latest committed state version: the rows that
    pass ``live`` (tombstones dropped), with the schema the writer
    stored in a part file's footer — read here with pyarrow, so
    building this DataFrame launches no Spark job."""
    import pyarrow.parquet as pq

    versions = _committed_versions(state_root)
    if not versions:
        raise FileNotFoundError(f"no committed state under {state_root}")
    path = os.path.join(state_root, f"v{versions[-1]}")
    parts = sorted(n for n in os.listdir(path) if n.startswith("part-"))
    if not parts:
        raise FileNotFoundError(f"no parquet part file in {path}")
    footer = pq.read_metadata(os.path.join(path, parts[0])).metadata
    schema = StructType.fromJson(json.loads(footer[_SPARK_SCHEMA_KEY]))
    return (
        spark.read.schema(schema).parquet(path)
        .filter(live)
        .select(*_REPLICA_COLS)
    )


def make_cdc_apply(state_root: str, fail_at_batch: int | None = None):
    """foreachBatch merge for the replayed event stream: latest event
    per PK by (ts_us, event_id); see ``_make_apply``."""
    return _make_apply(
        state_root,
        ["user_id", "event_id", F.unix_micros("ts").alias("ts_us"),
         "event_type", "value"],
        _EVENT_ORDER,
        fail_at_batch,
    )


def start_cdc_query(
    spark: SparkSession,
    replay_dir: str,
    schema,
    state_root: str,
    fail_at_batch: int | None = None,
):
    """Start (or restart — same checkpointLocation resumes the WAL) the
    CDC apply stream; returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(replay_dir)
    )
    return (
        stream.writeStream.foreachBatch(make_cdc_apply(state_root, fail_at_batch))
        .option("checkpointLocation", os.path.join(state_root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_state(spark: SparkSession, state_root: str) -> DataFrame:
    """FINAL read of the latest committed state version: latest
    non-tombstone row per PK."""
    return _read_final(spark, state_root, F.col("event_type") != "error")


def run_cdc_stream(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 3,
    state_root: str | None = None,
) -> DataFrame:
    """Run the CDC apply loop as a real stream; returns the final state
    (latest non-tombstone row per user_id)."""
    replay_dir, ev = write_replay_slices(spark, sf_dir, n_slices)
    if state_root is None:
        state_root = scratch_dir(f"cdc_state_{uuid.uuid4().hex[:8]}_")
    q = start_cdc_query(spark, replay_dir, ev.schema, state_root)
    q.awaitTermination(180)
    if q.isActive:  # pragma: no cover
        q.stop()
    return read_cdc_state(spark, state_root)


# ---------------------------------------------------------------------------
# Binlog-ordered apply (a35c): same versioned-state discipline, but the
# version axis is the LOG position (log_file, log_pos, seq) — what a
# real binlog tail orders by — and deletes ride as tombstoned ops.
# ---------------------------------------------------------------------------

_BINLOG_COLS = [*_LOG_ORDER, "op", *_REPLICA_COLS]


def make_binlog_apply(state_root: str):
    """foreachBatch merge for a decoded binlog stream: latest row per
    PK in LOG order, deletes kept as tombstones in state (filtered on
    read — ReplacingMergeTree + FINAL). Same idempotent v{batch_id}
    commit protocol as make_cdc_apply."""
    return _make_apply(state_root, _BINLOG_COLS, _LOG_ORDER)


def read_binlog_state(spark: SparkSession, state_root: str) -> DataFrame:
    """FINAL read over the binlog-apply state: latest committed
    version, tombstones dropped."""
    return _read_final(spark, state_root, F.col("op") != "delete")
