"""Set-up and the closed loops the benchmark times.

One client, one operation at a time. Only the operation itself is
inside the timed region; output checks, bookkeeping and staging
of the next binlog rotation run between operations.
"""

from __future__ import annotations

import importlib
import os
import random
import shutil
import sys
import time
import traceback

import changestream
import checks
from tracing import catalyst_phases, codegen_counters

PKG = "mysql_to_clickhouse_spark"

OLAP_FRESH = (
    "d1_group_basic",
    "c12_q3_shipping",
    "c10_star_multiway",
    "e1_row_number",
    "d3_count_distinct",
    "i1_exact_dedup",
    "i4_topk_similar",
)
LLM_CORPUS = (
    "i2b_jaccard_exact",
    "i22_containment_dedup",
    "i35_canonical_keeper",
    "i38_incremental_ingest",
    "i4e_topk_queries",
    "i4f_ann_index_serve",
)
SNAPSHOT_ROWS = 100_000
ROTATION_CHANGES = 20_000
# Untimed warm-up: a submission's time keeps falling over its first two
# runs in a fresh JVM (JIT), a rotation's over its first few.
WARM_ROUNDS = 2
WARM_ROTATIONS = 4  # change rotations after the snapshot


def _purge_program() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


def _warm_up(spark, cores: int) -> None:
    """The lazy set-up every first query pays: a job, the Python
    workers and the Arrow fetch path."""
    spark.range(0, 4096, 1, cores).mapInPandas(
        lambda batches: batches, "id long"
    ).toPandas()


def setup(conf: dict, cores: int, previous=None, since: float | None = None):
    """Build the session, load the registry and warm the lazy paths.

    With ``previous`` the old session is stopped and the engine's
    modules are imported afresh, so import-time work is paid again.
    Returns (spark, queries, timings); ``since`` backdates the start
    (process start, for the first set-up)."""
    if previous is not None:
        previous.stop()
        _purge_program()
    t0 = time.perf_counter()
    session = importlib.import_module(f"{PKG}.session")
    spark = session.build_session(master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    queries = importlib.import_module(f"{PKG}.registry").all_queries()
    t2 = time.perf_counter()
    _warm_up(spark, cores)
    t3 = time.perf_counter()
    return spark, queries, {
        "setup_s": t3 - (since if since is not None else t0),
        "session.build_s": t1 - t0,
        "registry.load_s": t2 - t1,
    }


class Loop:
    """Operation records, failures and the traced counters of one run."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[dict] = []
        self.failures: list[str] = []

    def begin(self, kind: str, name: str) -> dict:
        op = {"id": f"op{len(self.ops):04d}", "kind": kind, "name": name,
              "ok": False}
        self.spark.sparkContext.setJobGroup(op["id"], name)
        if self.tracer.enabled:
            op["codegen0"] = codegen_counters(self.spark)
        op["start"] = time.time()
        op["t0"] = time.perf_counter()
        return op

    def end(self, op: dict) -> None:
        op["wall"] = time.perf_counter() - op.pop("t0")
        op["end"] = time.time()
        if self.tracer.enabled:
            c0, n0 = op.pop("codegen0")
            c1, n1 = codegen_counters(self.spark)
            op["codegen.compiles"] = c1 - c0
            op["codegen.compile_ms"] = (n1 - n0) / 1e6
        self.ops.append(op)

    def fail(self, op: dict, why: str) -> None:
        self.failures.append(f"{op['name']}: {why}")
        print(f"perfbench: {op['id']} {op['name']} failed: {why}", file=sys.stderr)

    def fetch(self, df, op: dict):
        """Plan (forced separately when traced) and fetch over Arrow."""
        if self.tracer.enabled:
            with self.tracer.span("catalyst"):
                op["catalyst"] = catalyst_phases(df)
        with self.tracer.span("fetch"):
            pdf = df.toPandas()
        op["result_rows"] = len(pdf)
        return pdf


def query_loop(loop: Loop, queries: dict, names, sf_dir: str, seconds: float,
               seed: int) -> None:
    """``WARM_ROUNDS`` untimed rounds, then fresh submissions in seeded
    order, whole rounds, until at least ``seconds`` of submission time
    has been measured."""
    rng = random.Random(seed)
    checker = checks.QueryChecker(sf_dir, queries)
    busy, rounds = 0.0, 0
    try:
        while busy < seconds:
            kind = "warm" if rounds < WARM_ROUNDS else "query"
            order = list(names)
            rng.shuffle(order)
            for name in order:
                op = _submit(loop, queries[name], sf_dir, kind, checker)
                busy += op["wall"] if kind == "query" else 0.0
            rounds += 1
    finally:
        checker.close()


def _submit(loop: Loop, query, sf_dir: str, kind: str, checker) -> dict:
    op = loop.begin(kind, query.name)
    try:
        with loop.tracer.span("op", op=op["id"]):
            with loop.tracer.span("operators.build"):
                df = query.fn(loop.spark, sf_dir)
            pdf = loop.fetch(df, op)
    except Exception:  # a failed submission is a measured outcome
        loop.end(op)
        loop.fail(op, traceback.format_exc(limit=3))
        return op
    loop.end(op)
    why = checker.check(query.name, pdf)
    if why:
        loop.fail(op, why)
    else:
        op["ok"] = True
    return op


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _sub, files in os.walk(path)
        for f in files
    )


def replicate_loop(loop: Loop, root: str, seed: int, seconds: float) -> dict:
    """Snapshot rotation, ``WARM_ROTATIONS`` untimed change rotations,
    then timed change rotations until at least ``seconds`` of
    steady-phase time has been measured. Each rotation lands in the
    tailed directory, is drained by an availableNow stream through
    ``make_binlog_apply`` and read back FINAL."""
    from mysql_to_clickhouse_spark.sources.binlog import (
        decode_binlog_bytes,
        read_binlog_stream,
    )
    from mysql_to_clickhouse_spark.streaming.cdc import (
        make_binlog_apply,
        read_binlog_state,
    )

    staged, tail, state, ckpt = (
        os.path.join(root, d) for d in ("staged", "tail", "state", "ckpt")
    )
    for d in (staged, tail, state):
        os.makedirs(d)
    stream = changestream.ChangeStream(seed, SNAPSHOT_ROWS, ROTATION_CHANGES)
    restated = changestream.Restatement()
    tracer = loop.tracer
    decode = {"rows": 0, "s": 0.0}

    applied: list[tuple[float, float]] = []
    inner = make_binlog_apply(state)

    def apply(batch, batch_id):
        t0 = time.time()
        try:
            inner(batch, batch_id)
        finally:
            applied.append((t0, time.time()))

    def rotation(kind: str, name: str, path: str, ops: list) -> None:
        # a landed rotation belongs to the log even if draining it
        # fails: the stream's checkpoint replays it on the next drain
        restated.apply(ops)
        op = loop.begin(kind, name)
        op["changes"] = len(ops)
        applied.clear()
        try:
            with tracer.span("op", op=op["id"]):
                shutil.move(path, os.path.join(tail, name))
                with tracer.span("cdc.drain") as drain:
                    with tracer.span("operators.build"):
                        query = (
                            read_binlog_stream(loop.spark, tail, changestream.COLS,
                                               changestream.TYPES)
                            .writeStream.foreachBatch(apply)
                            .option("checkpointLocation", ckpt)
                            .trigger(availableNow=True)
                            .start()
                        )
                    query.awaitTermination()
                with tracer.span("cdc.final_read"):
                    with tracer.span("operators.build"):
                        df = read_binlog_state(loop.spark, state)
                    pdf = loop.fetch(df, op)
        except Exception:
            loop.end(op)
            loop.fail(op, traceback.format_exc(limit=3))
            return
        loop.end(op)
        if drain is not None:
            for a, b in applied:
                tracer.record("cdc.apply", a, b, drain["id"], op["id"])
        why = checks.check_replica(pdf, restated.columns())
        if why:
            loop.fail(op, why)
        else:
            op["ok"] = True
        if tracer.enabled:
            with open(os.path.join(tail, name), "rb") as fh:
                buf = fh.read()
            t0 = time.perf_counter()
            decode["rows"] += sum(1 for _ in decode_binlog_bytes(buf))
            decode["s"] += time.perf_counter() - t0

    rotation("snapshot", *changestream.write_rotation(stream, 0, staged))
    steady, i = 0.0, 1
    while steady < seconds:
        kind = "warm" if i <= WARM_ROTATIONS else "rotation"
        rotation(kind, *changestream.write_rotation(stream, i, staged))
        steady += loop.ops[-1]["wall"] if kind == "rotation" else 0.0
        i += 1
    versions = [v for v in os.listdir(state) if v.startswith("v")]
    latest = max(versions, key=lambda v: int(v[1:]))
    state_bytes = _du(state)
    snap = loop.ops[0]
    steady_ops = [o for o in loop.ops if o["kind"] == "rotation"]
    return {
        "binlog.decode_rows_per_s": decode["rows"] / decode["s"] if decode["s"] else 0.0,
        "cdc.versions_retained": len(versions),
        "cdc.state_bytes": state_bytes,
        "cdc.snapshot_rows_per_s": snap["changes"] / snap["wall"],
        "cdc.change_rows_per_s": sum(o["changes"] for o in steady_ops) / steady,
        "cdc.replica_bytes_per_live_byte": state_bytes / _du(os.path.join(state, latest)),
    }
