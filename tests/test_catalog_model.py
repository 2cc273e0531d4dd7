"""Model-based protocol test: a seeded random sequence of lakehouse
mutations (upsert, delete_where, optimize incl. Z-order, restore)
executed against BOTH the real Lakehouse and a plain-Python dict model,
with full-state equality asserted after EVERY commit and zone-map scans
spot-checked against the model along the way. One divergence anywhere in the op stream fails —
the strongest single check that the manifest protocol, snapshot
history, and pruning never disagree about table contents."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from at_data_pipelines_spark.catalog import Lakehouse

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("part", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ]
)

KEYSPACE = 400


def _rows_df(spark, rows):
    return spark.createDataFrame(
        [(k, k % 3, v, s) for (k, v, s) in rows], SCHEMA
    )


def _state(lake):
    return {
        r.k: (r.part, r.v, r.s) for r in lake.table("t").collect()
    }


@pytest.mark.parametrize("seed", [3, 17])
def test_lakehouse_random_ops_match_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    lake = Lakehouse(spark, str(tmp_path / f"lake{seed}"))
    lake.create(
        "t",
        SCHEMA,
        ["part"],
        ["k", "part"],
        stats_columns=["k", "v"],
        retain_versions=200,
    )
    model: dict[int, tuple] = {}
    snapshots: dict[int, dict] = {}

    def batch(n):
        ks = rng.sample(range(KEYSPACE), n)
        return [(k, round(rng.uniform(-100, 100), 2), f"s{rng.randrange(9)}") for k in ks]

    def snap():
        v = lake._load_meta("t").version
        snapshots[v] = dict(model)

    n_ops = 22
    for step in range(n_ops):
        op = rng.choice(
            ["upsert", "upsert", "delete_where", "optimize", "restore"]
        )
        if op == "upsert":
            rows = batch(rng.randrange(1, 30))
            lake.upsert("t", _rows_df(spark, rows))
            for k, v, s in rows:
                model[k] = (k % 3, v, s)
        elif op == "delete_where":
            lo = rng.randrange(0, KEYSPACE)
            hi = lo + rng.randrange(10, 80)
            lake.delete_where("t", (F.col("k") >= lo) & (F.col("k") < hi))
            for k in [k for k in model if lo <= k < hi]:
                del model[k]
        elif op == "optimize":
            if rng.random() < 0.5:
                lake.optimize("t", zorder_by=["k", "v"], zorder_files=3, full=True)
            else:
                lake.optimize("t")
            # content unchanged
        elif op == "restore":
            if len(snapshots) > 1:
                v = rng.choice(sorted(snapshots))
                lake.restore("t", v)
                model = dict(snapshots[v])
        got = _state(lake)
        assert got == model, (
            f"divergence after step {step} op={op}: "
            f"extra={set(got) - set(model)}, missing={set(model) - set(got)}, "
            f"changed={[k for k in got.keys() & model.keys() if got[k] != model[k]]}"
        )
        snap()
        # spot-check a zone-map scan against the model
        if rng.random() < 0.4:
            a, b = sorted((rng.randrange(KEYSPACE), rng.randrange(KEYSPACE)))
            s_got = sorted(r.k for r in lake.scan("t", where={"k": (a, b)}).collect())
            s_exp = sorted(k for k in model if a <= k <= b)
            assert s_got == s_exp, f"scan divergence after step {step}"

    # end-state sanity: vacuum reclaims nothing referenced, content intact
    lake.vacuum("t", grace_s=0)
    assert _state(lake) == model
