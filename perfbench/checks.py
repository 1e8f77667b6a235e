"""Output checks, run outside the timed region.

Every query result is compared with ``verify.compare_frames`` against
its expected frame. For most queries that frame is the registry's
DuckDB oracle. Four registry oracles evaluate a list intersection or
a 64-term lambda per pair; at sf0.1 three of them take 30-70 s each,
which no run can afford, so the expected frame of those four comes
from a restatement of the same arithmetic instead:

- i2b and i22: the same shingle fragment, with the intersection sizes
  counted by a postings self-join in DuckDB;
- i4 and i4e: the same fixed-point cosine (floor(x·1e6) elements,
  exact integer dots, then the same IEEE divisions) in NumPy int64.

``tests/test_perfbench.py`` proves each restatement equal to the
registry oracle on a small corpus. i4f is approximate and has no
oracle; its check is the one the engine's tests apply: the served
batch is the i4e batch, five ranked neighbours each, with recall at
least 0.25 against the exact top-5.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

Q_SCALE = 1e6
DOT_SCALE = Q_SCALE * Q_SCALE
I4E_BATCH = (31, 7, 64)  # vec_id % 31 = 7, first 64 by id
TOPK = 5
I22_THETA = 0.6
RECALL_FLOOR = 0.25


def _postings(con) -> None:
    """Distinct shingles per doc and their postings as temp tables, once."""
    from mysql_to_clickhouse_spark.functions.text import o_distinct_shingles

    con.sql(f"""
    CREATE TEMP TABLE IF NOT EXISTS bench_shingles AS
    SELECT doc_id, source, {o_distinct_shingles('text')} AS shingles
    FROM documents""")
    con.sql("""
    CREATE TEMP TABLE IF NOT EXISTS bench_postings AS
    SELECT doc_id, source, unnest(shingles) AS s FROM bench_shingles""")


def i2b_expected(con) -> pd.DataFrame:
    _postings(con)
    return con.sql("""
    WITH ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM bench_postings a JOIN bench_postings b
             ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(c AS BIGINT) AS n_common,
           CAST(len(na.shingles) AS BIGINT) AS n_a,
           CAST(len(nb.shingles) AS BIGINT) AS n_b,
           CAST(c AS DOUBLE)
             / CAST(len(na.shingles) + len(nb.shingles) - c AS DOUBLE) AS jaccard
    FROM ov JOIN bench_shingles na ON na.doc_id = doc_a
    JOIN bench_shingles nb ON nb.doc_id = doc_b
    """).df()


def i22_expected(con) -> pd.DataFrame:
    _postings(con)
    return con.sql(f"""
    WITH ov AS (SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
                  count(*) AS c
           FROM bench_postings a JOIN bench_postings b
             ON a.source = b.source AND a.s = b.s AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
    SELECT contained_doc, container_doc, CAST(c AS BIGINT) AS n_common,
           CAST(len(n.shingles) AS BIGINT) AS n_contained,
           CAST(c AS DOUBLE) / CAST(len(n.shingles) AS DOUBLE) AS containment
    FROM ov JOIN bench_shingles n ON n.doc_id = contained_doc
    WHERE CAST(c AS DOUBLE) / CAST(len(n.shingles) AS DOUBLE) >= {I22_THETA}
    """).df()


def _embeddings(con) -> tuple[np.ndarray, np.ndarray]:
    df = con.sql("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").df()
    mat = np.array(df["embedding"].tolist(), dtype=np.float32)
    return df["vec_id"].to_numpy(np.int64), mat


def fixed_topk(ids: np.ndarray, mat: np.ndarray, query_ids: np.ndarray,
               k: int = TOPK) -> pd.DataFrame:
    """Top-k by the oracle's fixed-point cosine, ties by neighbour id."""
    q = np.floor(mat.astype(np.float64) * Q_SCALE).astype(np.int64)
    norms = np.sqrt((q * q).sum(axis=1).astype(np.float64) / DOT_SCALE)
    rows = np.searchsorted(ids, query_ids)
    out = []
    for r in rows:
        dots = (q @ q[r]).astype(np.float64)
        cos = (dots / DOT_SCALE) / (norms[r] * norms)
        keep = ids != ids[r]
        cand_ids, cand_cos = ids[keep], cos[keep]
        order = np.lexsort((cand_ids, -cand_cos))[:k]
        for rank, j in enumerate(order, start=1):
            out.append((int(ids[r]), int(cand_ids[j]), float(cand_cos[j]), rank))
    return pd.DataFrame(out, columns=["id_a", "id_b", "cos_sim", "rk"]).astype(
        {"id_a": "int64", "id_b": "int64", "rk": "int64"}
    )


def _i4e_batch(ids: np.ndarray) -> np.ndarray:
    mod, rem, cap = I4E_BATCH
    return ids[ids % mod == rem][:cap]


def i4_expected(con) -> pd.DataFrame:
    ids, mat = _embeddings(con)
    return fixed_topk(ids, mat, ids)


def i4e_expected(con) -> pd.DataFrame:
    ids, mat = _embeddings(con)
    return fixed_topk(ids, mat, _i4e_batch(ids))


RESTATED = {
    "i2b_jaccard_exact": i2b_expected,
    "i22_containment_dedup": i22_expected,
    "i4_topk_similar": i4_expected,
    "i4e_topk_queries": i4e_expected,
}


def check_i4f(con, got: pd.DataFrame) -> str | None:
    ids, mat = _embeddings(con)
    batch = _i4e_batch(ids)
    exact = fixed_topk(ids, mat, batch)
    if sorted(set(got["id_a"])) != sorted(batch.tolist()):
        return "served batch differs from the i4e query batch"
    if len(got) != len(batch) * TOPK or sorted(set(got["rk"])) != list(range(1, TOPK + 1)):
        return f"expected {TOPK} ranked neighbours per query, got {len(got)} rows"
    want = set(zip(exact["id_a"], exact["id_b"]))
    recall = len(want & set(zip(got["id_a"], got["id_b"]))) / len(want)
    if recall < RECALL_FLOOR:
        return f"recall {recall:.3f} below {RECALL_FLOOR}"
    return None


class QueryChecker:
    """Expected frames per query, computed once per run on DuckDB."""

    def __init__(self, sf_dir: str, queries: dict):
        from mysql_to_clickhouse_spark import verify

        self.verify = verify
        self.con = verify.duckdb_connection(sf_dir)
        self.queries = queries
        self.expected: dict[str, pd.DataFrame] = {}

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        """None if ``got`` is right, else what is wrong."""
        if name == "i4f_ann_index_serve":
            return check_i4f(self.con, got)
        if name not in self.expected:
            make = RESTATED.get(name)
            oracle = self.queries[name].oracle
            self.expected[name] = (
                make(self.con) if make else self.con.sql(oracle).df()
            )
        res = self.verify.compare_frames(got, self.expected[name])
        return None if res.ok else res.detail

    def close(self) -> None:
        self.con.close()


def check_replica(got: pd.DataFrame, expected: dict[str, np.ndarray]) -> str | None:
    """Compare a FINAL read with the restated replica, row for row."""
    if len(got) != len(expected["user_id"]):
        return f"replica has {len(got)} rows, expected {len(expected['user_id'])}"
    got = got.sort_values("user_id", kind="mergesort")
    for col, want in expected.items():
        have = got[col].to_numpy()
        if not np.array_equal(have.astype(want.dtype), want):
            bad = int(np.flatnonzero(have.astype(want.dtype) != want)[0])
            return f"column {col} differs at key {got['user_id'].iloc[bad]}"
    return None
