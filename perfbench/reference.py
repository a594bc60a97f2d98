"""Independent references the benchmark checks every operation against.

DuckDB replays the seeded DML sequence as a plain SQL table (dml_churn) and
runs the driver contract's ``oracle_sql()`` entry of the
same shape over the generated corpus (dedup_pipeline).  None of it goes
through the engine.
"""

from __future__ import annotations

import math
from typing import Iterable, List, Sequence, Tuple

import duckdb
import pyarrow as pa


def normalize(rows: Iterable[Sequence], cols: List[str]) -> list:
    """Rows as sorted tuples of strings, columns in name order (the
    comparison the repository's correctness gate uses)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return "\x00"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        return str(v)
    return sorted(tuple(key(r[i]) for i in order) for r in rows)


class OrdersModel:
    """The orders table as DuckDB holds it after the same seeded ops."""

    def __init__(self, initial: pa.Table):
        self.con = duckdb.connect()
        self.con.register("initial", initial)
        self.con.execute("CREATE TABLE orders AS SELECT * FROM initial")
        self.con.unregister("initial")

    def append(self, rows: pa.Table) -> None:
        self.con.register("src", rows)
        self.con.execute("INSERT INTO orders SELECT * FROM src")
        self.con.unregister("src")

    def delete_keys(self, lo: int, hi: int) -> int:
        n = self.con.execute(
            "SELECT count(*) FROM orders WHERE o_orderkey >= ? "
            "AND o_orderkey < ?", [lo, hi]).fetchone()[0]
        self.con.execute("DELETE FROM orders WHERE o_orderkey >= ? "
                         "AND o_orderkey < ?", [lo, hi])
        return int(n)

    def replace(self, rows: pa.Table) -> None:
        """Upsert and MERGE (update matched, insert the rest) both leave
        exactly one row per source key, equal to the source row."""
        self.con.register("src", rows)
        self.con.execute("DELETE FROM orders WHERE o_orderkey IN "
                         "(SELECT o_orderkey FROM src)")
        self.con.execute("INSERT INTO orders SELECT * FROM src")
        self.con.unregister("src")

    def state(self, where: str = "TRUE") -> Tuple[int, int, int]:
        """Count, key sum and price sum of the rows matching ``where``."""
        n, k, p = self.con.execute(
            "SELECT count(*), sum(o_orderkey), sum(o_totalprice) "
            f"FROM orders WHERE {where}").fetchone()
        return int(n), int(k or 0), int(p or 0)

    def keys(self) -> List[int]:
        return [r[0] for r in self.con.execute(
            "SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]

    def arrow_bytes(self) -> int:
        return self.con.execute("SELECT * FROM orders").arrow().nbytes

    def close(self) -> None:
        self.con.close()


# the driver contract's query of the same shape as each pipeline stage
ORACLE_OF_STAGE = {
    "c4_rules": "c4_quality_filter",
    "minhash_lsh_groups": "dedup_minhash_lsh",
    "simhash_near_dup_pairs": "dedup_simhash_near",
    "ivf_topk": "ann_topk_ivf",
    "bpe_train_merges": "bpe_merge_table",
}


def components(groups: list) -> list:
    """(doc_id, cluster_id) rows of the ``dedup_clusters`` shape, from
    (band, band_key, doc_id) LSH rows: each doc joins its bucket's minimum
    member, and a cluster is named by its minimum member.  A union-find
    stands in for that query's recursive-CTE oracle, which takes minutes
    on DuckDB at this corpus size."""
    buckets = {}
    for band, key, doc in groups:
        buckets.setdefault((band, key), []).append(doc)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for docs in buckets.values():
        root = min(docs)
        for d in docs:
            a, b = find(root), find(d)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return [(d, find(d)) for d in parent]


def pipeline_oracle(documents: pa.Table, embeddings: pa.Table) -> dict:
    """Normalized expected output of every pipeline stage."""
    import __spark_entry__ as entry
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.register("documents", documents)
        con.register("embeddings", embeddings)
        out = {}
        for stage, query in ORACLE_OF_STAGE.items():
            cur = con.execute(sql[query])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            if stage == "minhash_lsh_groups":
                out["connected_components"] = normalize(
                    components(rows), ["doc_id", "cluster_id"])
            out[stage] = normalize(rows, cols)
        return out
    finally:
        con.close()
