"""Randomized DML consistency: a seeded random sequence of table
mutations (append / CoW delete / MoR delete / UPDATE / upsert / MERGE)
runs against the engine AND a pandas shadow model; after every step the
table contents must match the shadow exactly.

This is the property the whole DML plane must hold: any interleaving of
copy-on-write rewrites, merge-on-read deletes, row-delta upserts, and
position-delta merges yields the same rows a plain in-memory model
produces.  It holds for both kinds of initial load: the engine's own
append (files with field ids) and ``add_files`` of a parquet copy without
field ids (read through the name mapping).  At the end, folding the
changelog reproduces the table."""

import random
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from iceberg_go_spark import expressions as E
from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.schema import Schema

from conftest import id_less_table, read_table

N_OPS = 10


def _assert_same(spark, t, shadow: pd.DataFrame, step: str) -> None:
    got = (t.to_df(spark)
           .select("o_orderkey", "o_totalprice", "o_orderstatus")
           .toPandas()
           .sort_values("o_orderkey").reset_index(drop=True))
    exp = (shadow[["o_orderkey", "o_totalprice", "o_orderstatus"]]
           .sort_values("o_orderkey").reset_index(drop=True))
    assert len(got) == len(exp), (step, len(got), len(exp))
    assert got["o_orderkey"].tolist() == exp["o_orderkey"].tolist(), step
    assert got["o_orderstatus"].tolist() == \
        exp["o_orderstatus"].tolist(), step
    assert (got["o_totalprice"] - exp["o_totalprice"]).abs().max() < 1e-6, \
        step


def _assert_changelog_folds(spark, t) -> None:
    """Every row's net change count (+1 per insert, -1 per delete) is 0
    or 1, and the rows at +1 are the table, as a multiset.  One collect
    of the changelog, folded here: the table is a few hundred rows."""
    cols = t.to_df(spark).columns
    net = Counter()
    for r in t.changelog(spark).collect():
        net[tuple(r[c] for c in cols)] += \
            1 if r["_change_type"] == "insert" else -1
    assert all(n in (0, 1) for n in net.values()), \
        sorted(k for k, n in net.items() if n not in (0, 1))[:5]
    live = Counter(tuple(r) for r in t.to_df(spark).collect())
    assert Counter(k for k, n in net.items() if n == 1) == live


@pytest.mark.parametrize("seed,load", [
    pytest.param(11, "append", id="11"),
    pytest.param(23, "append", id="23"),
    pytest.param(11, "add_files", id="add_files-11"),
    pytest.param(23, "add_files", id="add_files-23")])
def test_random_dml_sequence(spark, sf_dir, tmp_path, seed, load):
    rng = random.Random(seed)
    base = (read_table(spark, "orders", sf_dir)
            .filter(F.col("o_orderkey") % 5 == 0).limit(400).cache())
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    if load == "append":
        t = cat.create_table(f"db.rand{seed}",
                             Schema.from_spark(base.schema))
        t.append(base)
    else:
        t = id_less_table(spark, cat, f"db.rand{seed}", base,
                          str(tmp_path / "base.parquet"))
    shadow = base.toPandas()
    next_key = int(shadow["o_orderkey"].max()) + 1

    cols = list(shadow.columns)

    def fresh_rows(n):
        nonlocal next_key
        rows = shadow.sample(n=min(n, len(shadow)),
                             random_state=rng.randrange(1 << 30)).copy()
        rows["o_orderkey"] = range(next_key, next_key + len(rows))
        next_key += len(rows)
        return rows

    for step in range(N_OPS):
        op = rng.choice(["append", "cow_delete", "mor_delete",
                         "update", "upsert", "merge_update",
                         "merge_delete"])
        if op == "append":
            rows = fresh_rows(rng.randint(1, 30))
            t = t.append(spark.createDataFrame(rows[cols],
                                               schema=base.schema))
            shadow = pd.concat([shadow, rows], ignore_index=True)
        elif op in ("cow_delete", "mor_delete"):
            lo = int(shadow["o_orderkey"].quantile(rng.random() * 0.5))
            st = rng.choice(["F", "O", "P"])
            expr = E.and_(E.eq("o_orderstatus", st),
                          E.gt_eq("o_orderkey", lo))
            mode = "copy-on-write" if op == "cow_delete" \
                else "merge-on-read"
            t = t.delete_where(spark, expr, mode=mode)
            keep = ~((shadow["o_orderstatus"] == st)
                     & (shadow["o_orderkey"] >= lo))
            shadow = shadow[keep].reset_index(drop=True)
        elif op == "update":
            lo = int(shadow["o_orderkey"].quantile(rng.random() * 0.5)) \
                if len(shadow) else 0
            t = t.update_where(
                spark, E.gt_eq("o_orderkey", lo),
                {"o_totalprice": F.lit(float(step))})
            shadow.loc[shadow["o_orderkey"] >= lo,
                       "o_totalprice"] = float(step)
        elif op == "upsert":
            upd = shadow.sample(n=min(20, len(shadow)),
                                random_state=rng.randrange(1 << 30)).copy()
            upd["o_totalprice"] = 1000.0 + step
            new = fresh_rows(rng.randint(1, 10))
            batch = pd.concat([upd, new], ignore_index=True)
            t = t.upsert(spark,
                         spark.createDataFrame(batch[cols],
                                               schema=base.schema),
                         ["o_orderkey"])
            shadow = shadow[~shadow["o_orderkey"]
                            .isin(batch["o_orderkey"])]
            shadow = pd.concat([shadow, batch], ignore_index=True)
        elif op == "merge_update":
            upd = shadow.sample(n=min(15, len(shadow)),
                                random_state=rng.randrange(1 << 30)).copy()
            upd["o_totalprice"] = 2000.0 + step
            new = fresh_rows(rng.randint(1, 8))
            batch = pd.concat([upd, new], ignore_index=True)
            t = t.merge_into(spark,
                             spark.createDataFrame(batch[cols],
                                                   schema=base.schema),
                             ["o_orderkey"])
            shadow = shadow[~shadow["o_orderkey"]
                            .isin(batch["o_orderkey"])]
            shadow = pd.concat([shadow, batch], ignore_index=True)
        else:  # merge_delete
            victims = shadow.sample(n=min(10, len(shadow)),
                                    random_state=rng.randrange(1 << 30))
            src = spark.createDataFrame(
                victims[["o_orderkey"]], "o_orderkey long")
            t = t.merge_into(spark, src, ["o_orderkey"],
                             when_matched="delete",
                             insert_not_matched=False)
            shadow = shadow[~shadow["o_orderkey"]
                            .isin(victims["o_orderkey"])]
            shadow = shadow.reset_index(drop=True)
        _assert_same(spark, t, shadow, f"step {step}: {op}")
    _assert_changelog_folds(spark, t)
