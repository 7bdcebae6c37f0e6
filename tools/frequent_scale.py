"""Incremental frequent-items gate scale study: fold wall and driver
rows at a chosen partition count.

The fold (streaming/frequent.py) merges each batch's EXACT key counts
with the stored state in one native ``rollup(key)`` aggregate: after
map-side combine its exchange carries at most one row per distinct
key per map task, and the driver collects at most capacity + 2 rows
(the bounded top-k plus the n_batch total row). This tool runs N
batches and reports, per batch:

- distinct keys in the batch (what bounds the exchange width);
- driver rows the fold collects (min(capacity + 2, merged keys + 1));
- wall time of the fold (the first batch's is the session's first
  fold), final state size, and the no-miss check on planted hot keys.

Usage: python tools/frequent_scale.py [N_ROWS_PER_BATCH] [N_BATCHES]
       [CAPACITY] [N_PARTS]
Prints one JSON line; recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nfl_data_pipeline_spark.jobs.txlog import TxTable
from nfl_data_pipeline_spark.session import get_spark
from nfl_data_pipeline_spark.streaming.frequent import (
    read_frequent_state,
    update_frequent_state,
)


def main(n_rows: int, n_batches: int, capacity: int, n_parts: int) -> dict:
    spark = get_spark(app_name=f"freq-scale-{n_rows}x{n_batches}")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="freq_scale_")
    t = TxTable(os.path.join(root, "hh"))
    walls, batch_keys, driver_rows = [], [], []
    for b in range(n_batches):
        # 10 hot keys at ~the φ threshold + a tail whose keys each
        # appear on two adjacent rows: ~n_rows/2 distinct keys per
        # batch, the worst case for the exchange width
        df = spark.range(n_rows, numPartitions=n_parts).selectExpr(
            "CASE WHEN id % 1000 = 0 "
            "THEN concat('hot_', CAST((id DIV 1000) % 10 AS STRING)) "
            f"ELSE substring(md5(CAST(id DIV 2 + {b} * {n_rows} "
            "AS STRING)), 1, 12) END AS k"
        ).localCheckpoint(eager=True)
        batch_keys.append(df.select("k").distinct().count())
        merged, state = df.select("k"), t.read(spark)
        if state is not None:  # None while the state holds no rows
            merged = merged.union(state.select("key"))
        driver_rows.append(min(capacity + 2, merged.distinct().count() + 1))
        t0 = time.perf_counter()
        update_frequent_state(spark, df, "k", t, f"b{b}", capacity=capacity)
        walls.append(round(time.perf_counter() - t0, 2))
    report = read_frequent_state(spark, t, phi_inv=capacity)
    reported = {r["key"] for r in report.collect()}
    state = t.read(spark)
    state_rows = state.count() if state is not None else 0
    res = {
        "rows_per_batch": n_rows,
        "batches": n_batches,
        "capacity": capacity,
        "partitions": n_parts,
        "distinct_keys_per_batch": batch_keys,
        "driver_rows_per_batch": driver_rows,
        "state_rows": state_rows,
        "hot_keys_reported": sum(
            1 for i in range(10) if f"hot_{i}" in reported
        ),
        "wall_per_batch_s": walls,
    }
    spark.stop()
    return res


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    b = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cap = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000
    p = int(sys.argv[4]) if len(sys.argv) > 4 else 256
    print(json.dumps(main(n, b, cap, p)))
