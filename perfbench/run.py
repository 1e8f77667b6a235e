"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_fresh --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[<cpus>]`` with one client, checks every
output, and prints as its last line one JSON object with the metrics
named in BENCHMARK.json: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything the run writes
lives under one temporary directory in the checkout, removed on every
exit path; a traced run also writes its spans and per-operation rows
to ``.perfbench_out/``. See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_latency_s": "s",
    "ops_per_s": "1/s",
}
LAYER_UNITS = {
    "mem.peak_rss_mb": "MB",
    "session.build_s": "s",
    "registry.load_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.between_jobs_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.max_task_skew": "ratio",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "fetch.arrow_s": "s",
    "fetch.result_rows": "count",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_received": "bytes",
    "pyworker.rows_received": "count",
    "trace.layer_coverage": "ratio",
    "binlog.decode_rows_per_s": "rows/s",
    "cdc.apply_frac": "ratio",
    "cdc.stream_overhead_frac": "ratio",
    "cdc.final_read_frac": "ratio",
    "cdc.rows_written_per_change_row": "ratio",
    "cdc.bytes_written_per_change_row": "bytes",
    "cdc.versions_retained": "count",
    "cdc.state_bytes": "bytes",
    "cdc.snapshot_rows_per_s": "rows/s",
    "cdc.change_rows_per_s": "rows/s",
    "cdc.replica_bytes_per_live_byte": "ratio",
}
WORKLOADS = ("olap_fresh", "replicate", "llm_corpus")
SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEM = "4g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the hypervisor ran something else shows host contention."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _stop_jvm(spark) -> None:
    """Stop Spark and the JVM behind it, and wait for the JVM to exit.

    The JVM's gateway exits when its stdin closes. py4j's own
    ``gateway.shutdown()`` is not used: after a foreachBatch stream it
    can block forever joining the callback server."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _environment(tmp: str, trace: bool) -> dict:
    """Point every scratch path of Python, the JVM and Spark into
    ``tmp``; returns the session configuration."""
    for d in ("py", "jvm", "local", "eventlog"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # no hsperfdata file in the system /tmp, temp files in ``tmp``
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/jvm",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# DuckDB reference forms: the registry oracle text, except i4, whose
# oracle spells the fixed-point cosine as a per-pair lambda for hash
# parity; the reference uses DuckDB's native cosine kernel instead.
DUCKDB_FORMS = {
    "i4_topk_similar": """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.embedding, b.embedding) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) rk
  FROM pairs
)
SELECT id_a, id_b, cos_sim, rk FROM ranked WHERE rk <= 5
""",
}


def _duckdb_reference(sf_dir: str, queries: dict) -> float:
    """DuckDB's ``op_latency_s`` on the olap_fresh shapes: per query the
    median of three runs after one warm-up, then the geometric mean;
    in this process, with the JVM stopped."""
    import duckdb

    import workloads
    from mysql_to_clickhouse_spark.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        per_query = []
        for name in workloads.OLAP_FRESH:
            sql = DUCKDB_FORMS.get(name, queries[name].oracle)
            con.sql(sql).df()
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                con.sql(sql).df()
                runs.append(time.perf_counter() - t0)
            per_query.append(statistics.median(runs))
    finally:
        con.close()
    return _geomean(per_query)


def _by_name(ops: list[dict]) -> dict[str, list[float]]:
    """Wall times per query name (per kind for binlog rotations)."""
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o["name"] if o["kind"] == "query" else o["kind"], []).append(o["wall"])
    return out


def _op_latency(ops: list[dict]) -> float:
    """Geometric mean over the distinct operations of each one's
    median wall time; for replicate, the median rotation lag."""
    return _geomean([statistics.median(w) for w in _by_name(ops).values()])


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _measure(args, conf: dict, tmp: str, tracer) -> tuple:
    """Set up, run the workload's loop and stop the JVM again, on every
    path. Returns (loop, setups, replica, cpu ticks, peak RSS, app id)."""
    import workloads

    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark, queries, first = workloads.setup(conf, cores, since=T_START)
        setups = [first]
        for _ in range(SETUPS - 1):
            spark, queries, again = workloads.setup(conf, cores, previous=spark)
            setups.append(again)
        loop = workloads.Loop(spark, tracer)
        replica = None
        ticks0 = _cpu_ticks()
        if args.workload == "replicate":
            replica = workloads.replicate_loop(
                loop, os.path.join(tmp, "replicate"), args.seed, args.seconds
            )
        else:
            import datagen

            datagen.write_tables(args.seed, os.path.join(tmp, "sf"))
            names = (workloads.OLAP_FRESH if args.workload == "olap_fresh"
                     else workloads.LLM_CORPUS)
            workloads.query_loop(loop, queries, names, os.path.join(tmp, "sf"),
                                 args.seconds, args.seed)
        ticks1 = _cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        rss = (_vm_hwm_mb(os.getpid())
               + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid))
        return (loop, queries, setups, replica, steal, rss,
                spark.sparkContext.applicationId, cores)
    finally:
        if spark is not None:
            _stop_jvm(spark)


def _run(args, tmp: str) -> dict:
    import tracing
    from stats import tail

    trace = bool(args.trace)
    conf = _environment(tmp, trace)
    tracer = tracing.Tracer(trace)
    loop, queries, setups, replica, steal, rss, app_id, cores = _measure(
        args, conf, tmp, tracer
    )
    timed = [o for o in loop.ops if o["kind"] in tracing.TIMED]
    walls = [o["wall"] for o in timed]
    tail_p, tail_v = tail(walls)
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "op_latency_s": _op_latency(timed),
        "ops_per_s": sum(o["ok"] for o in timed) / sum(walls),
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(loop.ops), "timed_ops": len(timed),
        "op_walls_s": {k: [round(w, 3) for w in v] for k, v in _by_name(timed).items()},
        "op_p50_s": statistics.median(walls),
        "op_tail": {"percentile": tail_p, "value_s": tail_v, "samples": len(walls)},
        "setups": [{k: round(v, 4) for k, v in s.items()} for s in setups],
        "warm_round_s": sum(o["wall"] for o in loop.ops if o["kind"] == "warm"),
        "end_to_end": e2e,
        "mem.peak_rss_mb": rss,
        "host.steal_share": steal,
        "failures": loop.failures,
    }
    if replica is not None:
        summary["replicate"] = replica
    metrics, units = e2e, E2E_UNITS
    if trace:
        log = tracing.parse_event_log(os.path.join(tmp, "eventlog", app_id))
        metrics, rows = tracing.per_layer(
            loop.ops, tracer.spans, log, cores, setups, replica, rss
        )
        units = LAYER_UNITS
        if args.workload == "olap_fresh":
            summary["duckdb.query_latency_s"] = _duckdb_reference(
                os.path.join(tmp, "sf"), queries
            )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(path, "w") as fh:
            json.dump({"summary": summary, "per_layer": metrics, "ops": rows,
                       "spans": tracer.spans}, fh, indent=1, default=str)
    print("perfbench: " + json.dumps(summary, default=str), flush=True)
    return {
        "correct": not loop.failures,
        "attempted": len(loop.ops),
        "failed": len(loop.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import mysql_to_clickhouse_spark as engine  # the program under test
    except ImportError as exc:
        print(f"perfbench: the engine is not in this checkout: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from {engine.__file__}, "
              f"not from this checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    # SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
