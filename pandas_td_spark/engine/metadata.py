"""Job-control surface (SURVEY.md §2.12 M5-M6).

Reference loci (all UNVERIFIED, /root/reference empty):
``td.py::QueryEngine`` progress callbacks (M5),
``read_td_query(params=...)`` job options (M6). The catalog listing (M1)
is ``compat.Connection.databases()``/``tables()``, which the magics in
``ipython.py`` call.
"""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
from pyspark.sql import SparkSession

__all__ = [
    "job_group",
    "progress_snapshot",
]


@contextmanager
def job_group(spark: SparkSession, group_id: str, description: str = ""):
    """M6: job-option pass-through (priority/labels) — Spark job groups let
    a user cancel or inspect everything issued under one logical job, the
    closest analogue of TD's job priority/retry knobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group_id, description, interruptOnCancel=True)
    try:
        yield
    finally:
        sc.setJobGroup("", "")


def progress_snapshot(spark: SparkSession) -> pd.DataFrame:
    """M5: poll-style progress (reference rendered Presto %-complete in a
    wait_callback). One row per active stage with task counts."""
    st = spark.sparkContext.statusTracker()
    rows = []
    for sid in st.getActiveStageIds():
        info = st.getStageInfo(sid)
        if info:
            rows.append(
                {
                    "stage_id": sid,
                    "num_tasks": info.numTasks,
                    "active_tasks": info.numActiveTasks,
                    "completed_tasks": info.numCompletedTasks,
                    "failed_tasks": info.numFailedTasks,
                }
            )
    return pd.DataFrame(
        rows,
        columns=[
            "stage_id",
            "num_tasks",
            "active_tasks",
            "completed_tasks",
            "failed_tasks",
        ],
    )
