"""(start, end] bucket semantics of the hour/day rollups.

Real TrafSys rows are hour-ending records stamped EXACTLY on the hour
(/root/reference/script.js:131).  A half-open ``[start, end)`` bucketing
maps a 01:00:00 record to the bucket ending 02:00 — every production row
one bucket late.  These tests pin the closed-right convention in the
batch rollup, the streaming rollup, and their agreement with each other.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile

from trafsys_data_transfer_spark.plans.traffic import (
    normalize_traffic,
    rollup_traffic,
)
from trafsys_data_transfer_spark.streaming.incremental import (
    drain,
    hourly_rollup_stream,
    read_traffic_stream,
)

ROLLUP_COLS = ["SiteCode", "Location", "PeriodEnding", "Ins", "Outs"]


def _traffic_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "SiteCode string, Location string, PeriodEnding timestamp, "
        "IsInternal int, Ins long, Outs long",
    )


def test_on_the_hour_record_keeps_its_bucket(spark):
    """An hour-ending record at 01:00:00 belongs to the bucket that ENDS
    01:00 — its own timestamp — not the next one."""
    ts = dt.datetime(2024, 1, 1, 1, 0, 0)
    df = _traffic_df(spark, [("S1", "door", ts, 0, 5, 3)])
    [row] = rollup_traffic(df, grain="hour").collect()
    assert row["PeriodEnding"] == ts


def test_on_the_hour_and_intra_hour_share_a_bucket(spark):
    """A 01:00:00 hour-ending record and a 00:30:00 event both describe
    activity inside (00:00, 01:00] and must aggregate together."""
    rows = [
        ("S1", "door", dt.datetime(2024, 1, 1, 1, 0, 0), 0, 5, 3),
        ("S1", "door", dt.datetime(2024, 1, 1, 0, 30, 0), 0, 7, 2),
        ("S1", "door", dt.datetime(2024, 1, 1, 1, 0, 1), 0, 1, 1),  # next bucket
    ]
    out = {
        r["PeriodEnding"]: (r["Ins"], r["Outs"])
        for r in rollup_traffic(_traffic_df(spark, rows), grain="hour").collect()
    }
    assert out == {
        dt.datetime(2024, 1, 1, 1, 0, 0): (12, 5),
        dt.datetime(2024, 1, 1, 2, 0, 0): (1, 1),
    }


def test_midnight_record_belongs_to_previous_day(spark):
    """Daily grain: a midnight-stamped hour-ending record covers 23:00-24:00
    of the PREVIOUS day, so its daily bucket ends at that midnight."""
    ts = dt.datetime(2024, 1, 2, 0, 0, 0)
    df = _traffic_df(spark, [("S1", "door", ts, 0, 4, 4)])
    [row] = rollup_traffic(df, grain="day").collect()
    assert row["PeriodEnding"] == ts  # day bucket (Jan 1, Jan 2]


def test_streaming_rollup_matches_batch_on_boundary_timestamps(spark):
    """The streaming rollup must apply the identical (start, end] shift."""
    records = [
        {"SiteCode": "S1", "Location": "door", "IsInternal": False,
         "PeriodEnding": "2024-01-01T01:00:00", "Ins": 5, "Outs": 3},
        {"SiteCode": "S1", "Location": "door", "IsInternal": False,
         "PeriodEnding": "2024-01-01T00:30:00", "Ins": 7, "Outs": 2},
        {"SiteCode": "S1", "Location": "door", "IsInternal": False,
         "PeriodEnding": "2024-01-01T02:00:00", "Ins": 9, "Outs": 1},
    ]
    staging = tempfile.mkdtemp(prefix="t_bucket_stream_")
    with open(os.path.join(staging, "drop.json"), "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    streamed = drain(
        hourly_rollup_stream(read_traffic_stream(spark, staging)),
        output_mode="complete",
    )
    got = {
        r["PeriodEnding"]: (r["Ins"], r["Outs"])
        for r in streamed.collect()
    }
    assert got == {
        dt.datetime(2024, 1, 1, 1, 0, 0): (12, 5),
        dt.datetime(2024, 1, 1, 2, 0, 0): (9, 1),
    }


def test_seasonal_anomaly_flags_planted_spike(spark):
    """Constant 9am history + one spike day: only the spike flags; an
    equally-sized value at an hour with matching history does not."""
    from pyspark.sql import functions as F

    from trafsys_data_transfer_spark.plans.traffic_queries import (
        traffic_seasonal_anomalies,  # noqa: F401 — registered builder
    )

    rows = []
    # 9:00-ending bucket: Ins=100 for 9 days, then a 500 spike on day 10
    for day in range(1, 10):
        rows.append(("S1", "door", dt.datetime(2024, 1, day, 8, 30), 100, 0))
    rows.append(("S1", "door", dt.datetime(2024, 1, 10, 8, 30), 500, 0))
    # 14:00-ending bucket: wildly varying history → nothing flags
    for day, v in enumerate((10, 400, 80, 300, 20, 350, 60, 250, 30, 380), start=1):
        rows.append(("S1", "door", dt.datetime(2024, 1, day, 13, 30), v, 0))
    df = spark.createDataFrame(
        rows,
        "SiteCode string, Location string, PeriodEnding timestamp, Ins long, Outs long",
    )
    from trafsys_data_transfer_spark.plans.traffic import rollup_traffic

    rolled = rollup_traffic(df, grain="hour").select(
        "SiteCode", "Location", "PeriodEnding", "Ins"
    )
    hod = F.hour("PeriodEnding")
    profile = (
        rolled.groupBy("SiteCode", "Location", hod.alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("Ins").alias("s"),
            F.sum(F.col("Ins") * F.col("Ins")).alias("ss"),
        )
        .filter(F.col("n") >= 3)
    )
    m = F.col("n") - F.lit(1)
    dev = m * F.col("Ins") - (F.col("s") - F.col("Ins"))
    thr = F.lit(9) * (
        m * (F.col("ss") - F.col("Ins") * F.col("Ins"))
        - (F.col("s") - F.col("Ins")) * (F.col("s") - F.col("Ins"))
    )
    out = (
        rolled.withColumn("hod", hod)
        .join(F.broadcast(profile), ["SiteCode", "hod", "Location"])
        .filter(dev * dev > thr)
        .collect()
    )
    assert [(r.PeriodEnding, r.Ins) for r in out] == [
        (dt.datetime(2024, 1, 10, 9, 0), 500)
    ]
