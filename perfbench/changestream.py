"""Seeded synthetic MySQL change stream for the ``replicate`` workload.

One replicated table keyed on ``user_id`` (the key the engine's binlog
apply merges on). The stream is an initial snapshot rotation of
inserts followed by change rotations: about 80% updates, 10% deletes
and 10% inserts of new keys. Half of the updated or deleted keys come
from a Zipf-ranked hot set, the rest uniformly from the live keys.
Every op is valid against the table as it stands at that point of the
log: no update or delete of a missing key, no insert of a live one.

``Restatement`` restates the replica independently of the engine:
walk the ops in log order, last write wins, deletes drop the key.
"""

from __future__ import annotations

import os

import numpy as np

COLS = ["user_id", "event_id", "ts_us", "event_type", "value"]
TYPES = ["long", "long", "long", "string", "double"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
TS0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs
HOT_KEYS = 2_000
ZIPF_S = 1.1


def table_schema():
    from mysql_to_clickhouse_spark.sources.binlog import (
        MYSQL_TYPE_DOUBLE,
        MYSQL_TYPE_LONGLONG,
        MYSQL_TYPE_VARCHAR,
        TableSchema,
    )

    return TableSchema("app", "users_cdc", [
        ("user_id", MYSQL_TYPE_LONGLONG, 0),
        ("event_id", MYSQL_TYPE_LONGLONG, 0),
        ("ts_us", MYSQL_TYPE_LONGLONG, 0),
        ("event_type", MYSQL_TYPE_VARCHAR, 255),
        ("value", MYSQL_TYPE_DOUBLE, 8),
    ])


class ChangeStream:
    """Generates rotations one at a time; keeps the live image per key."""

    def __init__(self, seed: int, snapshot_rows: int, rotation_changes: int):
        self.rng = np.random.default_rng(seed)
        self.snapshot_rows = snapshot_rows
        self.rotation_changes = rotation_changes
        self.live: dict[int, tuple] = {}
        self.keys: list[int] = []  # live keys, swap-remove on delete
        self.pos: dict[int, int] = {}
        self.next_key = 0
        self.seq = 0
        ranks = np.arange(1, HOT_KEYS + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.hot_cdf = np.cumsum(p / p.sum())

    def _rows(self, keys) -> list[tuple]:
        """Fresh row images for ``keys``, one new event per key."""
        n = len(keys)
        seq = np.arange(self.seq + 1, self.seq + 1 + n)
        self.seq += n
        kinds = self.rng.integers(0, len(EVENT_TYPES), n)
        values = np.round(self.rng.uniform(0.0, 500.0, n), 2)
        return [
            (int(k), int(s), TS0 + int(s) * 1_000, EVENT_TYPES[t], float(v))
            for k, s, t, v in zip(keys, seq, kinds, values)
        ]

    def _add(self, row: tuple) -> None:
        key = row[0]
        self.live[key] = row
        self.pos[key] = len(self.keys)
        self.keys.append(key)

    def _remove(self, key: int) -> tuple:
        row = self.live.pop(key)
        i = self.pos.pop(key)
        last = self.keys.pop()
        if last != key:
            self.keys[i] = last
            self.pos[last] = i
        return row

    def snapshot(self) -> list:
        keys = range(self.next_key, self.next_key + self.snapshot_rows)
        self.next_key += self.snapshot_rows
        rows = self._rows(keys)
        for row in rows:
            self._add(row)
        return [("insert", row) for row in rows]

    def rotation(self) -> list:
        n = self.rotation_changes
        kind = self.rng.random(n)
        hot = self.rng.random(n) < 0.5
        hot_rank = np.searchsorted(self.hot_cdf, self.rng.random(n))
        uniform = self.rng.random(n)
        images = iter(self._rows([0] * n))
        ops = []
        for i in range(n):
            if kind[i] >= 0.9:
                key = self.next_key
                self.next_key += 1
                row = next(images)
                row = (key,) + row[1:]
                self._add(row)
                ops.append(("insert", row))
                continue
            # hot set: the Zipf-ranked first slots of the live-key list
            if hot[i]:
                slot = min(int(hot_rank[i]), len(self.keys) - 1)
            else:
                slot = int(uniform[i] * len(self.keys))
            key = self.keys[slot]
            if kind[i] < 0.8:
                before = self.live[key]
                after = (key,) + next(images)[1:]
                self.live[key] = after
                ops.append(("update", (before, after)))
            else:
                ops.append(("delete", self._remove(key)))
        return ops


def rotation_name(i: int) -> str:
    return f"binlog.{i + 1:06d}"


def write_rotation(stream: ChangeStream, i: int, out_dir: str):
    """Generate rotation ``i`` (0 is the snapshot) and serialize it with
    the engine's binlog writer. Returns (file name, path, ops)."""
    from mysql_to_clickhouse_spark.sources.binlog import write_binlog

    ops = stream.snapshot() if i == 0 else stream.rotation()
    name = rotation_name(i)
    path = os.path.join(out_dir, name)
    write_binlog(path, table_schema(), ops, rotate_to=rotation_name(i + 1))
    return name, path, ops


class Restatement:
    """Independent latest-wins replica: ops applied in log order,
    deletes drop the key."""

    def __init__(self):
        self.state: dict[int, tuple] = {}

    def apply(self, ops: list) -> None:
        for kind, payload in ops:
            if kind == "insert":
                self.state[payload[0]] = payload
            elif kind == "update":
                self.state[payload[1][0]] = payload[1]
            else:
                self.state.pop(payload[0], None)

    def columns(self) -> dict[str, np.ndarray]:
        """The replica as a reader should see it, sorted by key."""
        rows = [self.state[k] for k in sorted(self.state)]
        return {
            c: np.array([r[j] for r in rows],
                        dtype=object if c == "event_type" else None)
            for j, c in enumerate(COLS)
        }
