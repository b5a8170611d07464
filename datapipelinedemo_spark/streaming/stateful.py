"""Custom stateful streaming operator via applyInPandasWithState.

The built-in windows cover time-bucketed aggregation; this is the seam
for semantics they can't express — here, a per-user running
accumulator (count + sum + last-seen) that emits an updated snapshot
every micro-batch. The same grouped-pandas function shape scales:
state lives in the state store, partitioned by key, nothing collects
to the driver. At 100 TB key cardinality, production runs add a
timeout policy (idle keys emit a final snapshot and leave the store)
and the RocksDB state-store provider.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

# State keeps only primitives: a timestamp-typed state field
# deadlocked the Spark 4.1 local state store during checkpoint commit;
# epoch micros as LONG is equivalent and portable.
#
# Value accumulates on the 1e-4 integer grid: a double sum in pandas is
# order-dependent (arrival order, which an oracle can't reproduce
# bit-for-bit), while each value floor-snaps independently (same IEEE
# ops as SQL FLOOR(v*1e4+0.5) in Spark and DuckDB) and an int64 sum is
# order-free. This is functions/stable.py's fixed-point rule applied
# to streaming state.
STATE_SCHEMA_EXACT = "n LONG, total4 LONG, last_us LONG"
OUTPUT_SCHEMA_EXACT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value4", T.LongType()),
    ]
)


def _update_exact(key, pdfs, state: GroupState):
    import numpy as np
    import pandas as pd

    n, total4, last_us = 0, 0, 0
    if state.exists:
        n, total4, last_us = state.get
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            # NULL values: the SQL oracle's SUM skips them while
            # COUNT(*) still counts the row — dropna mirrors that
            # (and NaN->int64 casting is undefined; ADVICE r9)
            vals = pdf["value"].dropna().to_numpy(dtype="float64")
            if len(vals):
                total4 += int(
                    np.floor(vals * 1e4 + 0.5).astype("int64").sum()
                )
            last_us = max(last_us, int(pdf["ts"].max().value // 1000))
    state.update((n, total4, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value4": [total4],
        }
    )


def running_user_totals_exact(events: DataFrame) -> DataFrame:
    """Streaming: per-user running (count, grid sum) snapshots.
    ``events`` must be a streaming frame with (user_id, ts, value).
    The catalog's ``streaming_stateful_user_totals`` drives it through
    a real multi-batch stream."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_exact,
        outputStructType=OUTPUT_SCHEMA_EXACT,
        stateStructType=STATE_SCHEMA_EXACT,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

