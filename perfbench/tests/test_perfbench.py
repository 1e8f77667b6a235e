"""The benchmark's own tests: input determinism, the independent
replica restatement, the restated oracles, the tail rule, self-time
arithmetic and the metric names promised in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import changestream  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def _stage(seed: int, out_dir: str, n: int = 3):
    os.makedirs(out_dir, exist_ok=True)
    stream = changestream.ChangeStream(seed, snapshot_rows=500, rotation_changes=300)
    staged = [changestream.write_rotation(stream, i, out_dir) for i in range(n)]
    return stream, staged


def test_same_seed_same_rotation_bytes_and_replica(tmp_path):
    s1, a = _stage(5, str(tmp_path / "a"))
    s2, b = _stage(5, str(tmp_path / "b"))
    _s3, c = _stage(6, str(tmp_path / "c"))
    for (_, pa, _), (_, pb, _), (_, pc, _) in zip(a, b, c):
        assert open(pa, "rb").read() == open(pb, "rb").read()
        assert open(pa, "rb").read() != open(pc, "rb").read()
    ra, rb = changestream.Restatement(), changestream.Restatement()
    for (_, _, ops_a), (_, _, ops_b) in zip(a, b):
        ra.apply(ops_a)
        rb.apply(ops_b)
    assert ra.state == rb.state == s1.live == s2.live


def test_change_mix_and_validity(tmp_path):
    stream, staged = _stage(9, str(tmp_path), n=6)
    kinds = [k for _, _, ops in staged[1:] for k, _ in ops]
    n = len(kinds)
    assert 0.75 < kinds.count("update") / n < 0.85
    assert 0.07 < kinds.count("delete") / n < 0.13
    live = {}
    for _, _, ops in staged:
        for kind, payload in ops:
            if kind == "insert":
                assert payload[0] not in live
                live[payload[0]] = payload
            elif kind == "update":
                before, after = payload
                assert live[before[0]] == before
                live[after[0]] = after
            else:
                assert live.pop(payload[0]) == payload


def test_restatement_matches_decoded_binlog(tmp_path):
    """Latest-wins over the decoded rotation files, in log order, equals
    the restatement of the op stream."""
    from mysql_to_clickhouse_spark.sources.binlog import decode_binlog_bytes

    _stream, staged = _stage(3, str(tmp_path), n=4)
    restated = changestream.Restatement()
    decoded: dict[int, tuple] = {}
    for _name, path, ops in staged:
        restated.apply(ops)
        with open(path, "rb") as fh:
            for ev in decode_binlog_bytes(fh.read()):
                img = ev["after"] if ev["after"] is not None else ev["before"]
                img = tuple(v.decode() if isinstance(v, bytes) else v for v in img)
                if ev["op"] == "delete":
                    decoded.pop(img[0], None)
                else:
                    decoded[img[0]] = img
    assert decoded == restated.state
    cols = restated.columns()
    assert list(cols["user_id"]) == sorted(decoded)


def test_datagen_is_seeded():
    a = datagen.tables(4, {"documents": 50, "embeddings": 20, "lineitem": 100})
    b = datagen.tables(4, {"documents": 50, "embeddings": 20, "lineitem": 100})
    c = datagen.tables(5, {"documents": 50, "embeddings": 20, "lineitem": 100})
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


@pytest.fixture(scope="module")
def small_duckdb(tmp_path_factory):
    from mysql_to_clickhouse_spark import verify

    sf = str(tmp_path_factory.mktemp("sf"))
    datagen.write_tables(11, sf, {"documents": 400, "embeddings": 150})
    con = verify.duckdb_connection(sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(checks.RESTATED))
def test_restated_oracle_equals_registry_oracle(small_duckdb, name):
    from mysql_to_clickhouse_spark import registry, verify

    oracle = registry.all_queries()[name].oracle
    want = small_duckdb.sql(oracle).df()
    got = checks.RESTATED[name](small_duckdb)
    assert len(want) > 0
    assert verify.compare_frames(got, want).ok


def test_i4f_check_rejects_a_wrong_batch(small_duckdb):
    exact = checks.i4e_expected(small_duckdb)
    assert checks.check_i4f(small_duckdb, exact) is None
    assert checks.check_i4f(small_duckdb, exact[exact["rk"] <= 4]) is not None
    shifted = exact.assign(id_a=exact["id_a"] + 1)
    assert checks.check_i4f(small_duckdb, shifted) is not None


def test_tail_rule():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(11) == 9
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(250) == 96
    for n in (11, 20, 37, 100, 250):
        values = list(range(n))
        p, v = stats.tail(values)
        assert sum(x > v for x in values) >= 10
        assert sum(x > stats.percentile(values, p + 1) for x in values) < 10 or p == 99
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_self_time_arithmetic():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
    ]
    got = stats.self_times(spans)
    assert got == {0: 10.0 - 5.0 - 1.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}
    assert stats.covered((0, 10), []) == 0.0


def test_quartile_spread():
    assert stats.quartile_spread([1.0] * 5) == 0.0
    assert stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    bench = _bench_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layers == run.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS[:2])
    assert bench["command"][1] == "perfbench/run.py"


def _fake_run():
    """Two operations with one job each, as the event log reports them."""
    ops, spans, tracer = [], [], tracing.Tracer(True)
    for i, kind in enumerate(("warm", "query")):
        t = 100.0 + 10 * i
        op = {"id": f"op{i}", "kind": kind, "name": "q", "ok": True,
              "start": t, "end": t + 4, "wall": 4.0, "result_rows": 7,
              "catalyst": {"analysis": 1.0, "optimization": 2.0, "planning": 3.0}}
        root = tracer.record("op", t, t + 4, None, op["id"])
        tracer.record("operators.build", t, t + 1, root["id"], op["id"])
        tracer.record("catalyst", t + 1, t + 1.5, root["id"], op["id"])
        tracer.record("fetch", t + 1.5, t + 4, root["id"], op["id"])
        ops.append(op)
    spans = tracer.spans
    log = {
        "jobs": {
            0: {"group": "op0", "submit": 101.6, "end": 103.0, "stages": [0]},
            1: {"group": "op1", "submit": 111.6, "end": 113.5, "stages": [1, 2]},
        },
        "stages": {0: {"submit": 101.6, "end": 103.0},
                   1: {"submit": 111.6, "end": 113.5}},
        "tasks": {
            0: [{"run_s": 1.0, "gc_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
                 "spill": 0, "out_bytes": 0, "out_rows": 0, "acc": {}}],
            1: [{"run_s": r, "gc_s": 0.1, "shuffle_read": 5, "shuffle_write": 7,
                 "spill": 0, "out_bytes": 0, "out_rows": 0, "acc": {9: "64"}}
                for r in (1.0, 1.0, 3.0)],
        },
        "py_acc": {9: "bytes_sent"},
    }
    return ops, spans, log


def test_per_layer_names_and_accounting():
    ops, spans, log = _fake_run()
    setups = [{"session.build_s": 1.0, "registry.load_s": 0.2}]
    metrics, rows = tracing.per_layer(ops, spans, log, 4, setups, None, 1500.0)
    assert set(metrics) == set(run.LAYER_UNITS)
    q = rows[1]
    assert q["exec.jobs"] == 1 and q["exec.stages"] == 1 and q["exec.stages_skipped"] == 1
    assert q["exec.max_task_skew"] == pytest.approx(3.0)
    assert q["pyworker.bytes_sent"] == 192
    assert q["fetch.arrow_s"] == pytest.approx(0.5)
    assert q["self.exec_s"] == pytest.approx(1.9)
    assert q["self.between_jobs_s"] == pytest.approx(0.1)  # fetch start to first job
    # build 1 + catalyst 0.5 + exec 1.9 + between 0.1 + fetch 0.5 = 4.0
    assert q["self.other_s"] == pytest.approx(0.0, abs=1e-9)
    assert metrics["exec.core_busy_ratio"] == pytest.approx(5.0 / (1.9 * 4))
    assert metrics["catalyst.planning_ms"] == 3.0


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_fresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
