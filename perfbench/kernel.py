"""No-Spark microbenchmark of the matcher's Viterbi kernel.

``per_point_table`` rebuilds, from ``candidate_edges`` rows, the
one-row-per-point Arrow table that ``match_traces`` hands to its
``mapInArrow`` kernel: candidates collapsed per (doc_id, gps_idx) into a
struct list with the ``CAND_STRUCT_FIELDS`` order, sorted the way the JVM's
``array_sort`` sorts them, points ordered by (doc_id, gps_idx). Saved as
parquet, it times ``_viterbi_table`` with no JVM in the loop:

    python3 perfbench/kernel.py <per_point.parquet>
"""

from __future__ import annotations

import json
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPEATS = 3  # kernel calls per measurement; the median is reported


def per_point_table(cands: pa.Table) -> pa.Table:
    from conflation_spark.operators.matching import CAND_STRUCT_FIELDS

    df = cands.to_pandas().sort_values(
        ["doc_id", "gps_idx", *CAND_STRUCT_FIELDS], kind="mergesort", ignore_index=True
    )
    starts = np.flatnonzero(~df.duplicated(["doc_id", "gps_idx"]).to_numpy())
    offsets = pa.array(np.append(starts, len(df)).astype(np.int32))
    struct = pa.StructArray.from_arrays(
        [pa.array(df[f].to_numpy()) for f in CAND_STRUCT_FIELDS], names=CAND_STRUCT_FIELDS
    )
    pts = df.iloc[starts]
    return pa.table(
        {
            "doc_id": pa.array(pts["doc_id"].to_numpy(), pa.string()),
            "gps_idx": pa.array(pts["gps_idx"].to_numpy(), pa.int32()),
            "time": pa.array(pts["time"].to_numpy(), pa.float64()),
            "gc_prev": pa.array(pts["gc_prev"].to_numpy(), pa.float64()),
            "cands": pa.ListArray.from_arrays(offsets, struct),
        }
    )


def time_kernel(path: str) -> dict:
    """Median seconds of ``_viterbi_table`` over the saved per-point table."""
    from conflation_spark.operators.matching import _viterbi_table

    tbl = pq.read_table(path)
    secs, rows = [], 0
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        rows = len(_viterbi_table(tbl))
        secs.append(time.perf_counter() - t0)
    s = statistics.median(secs)
    return {"kernel_s": s, "points": tbl.num_rows, "points_per_s": tbl.num_rows / s,
            "traversals": rows}


if __name__ == "__main__":
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(time_kernel(sys.argv[1])))
