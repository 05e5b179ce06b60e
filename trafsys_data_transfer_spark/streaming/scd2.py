"""Stateful streaming SCD Type-2 on ``applyInPandasWithState``.

The streaming twin of :func:`operators.scd.scd2_build`: per-key dimension
state (current attribute, version, ``valid_from``) lives in the state
store across micro-batches; a version is emitted exactly once, when a
later event CLOSES it by carrying a different attribute.  The open
version per key stays in state (checkpointed) — what an always-on
pipeline wants; the registered query flushes real versions with a
sentinel attribute so the drained output matches the batch oracle.

Assumes in-order arrival per key across micro-batches (the nightly
time-ordered drop; the registered query stages two time-split drops
through one checkpoint so versions spanning the drop boundary certify
cross-batch state continuity).  Out-of-order streams need the MERGE
restatement path instead (`streaming_merge_restate`).

Scale: state is O(keys) × one (attr, version, from) tuple; each
micro-batch shuffles only its own rows to their key's state partition —
the same bounded-state shape as ``sessionize.py``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from", TimestampType()),
        StructField("valid_to", TimestampType()),
        StructField("version", IntegerType()),
    ]
)

#: state: (current attribute, current version, valid_from microseconds).
SCD2_STATE_SCHEMA = StructType(
    [
        StructField("attr", StringType()),
        StructField("version", LongType()),
        StructField("from_us", LongType()),
    ]
)


def _compress_runs(user_id, pdf_iter, stored):
    """Compress one micro-batch of a key's events into closed SCD2
    versions.

    Returns ``(emit, new_state)`` — ``emit`` a pandas DataFrame of closed
    versions (or None), ``new_state`` the (attr, version, from_us) tuple
    to store (or None to leave state untouched).
    """
    import numpy as np

    pdf = pd.concat(list(pdf_iter), ignore_index=True)
    if pdf.empty:
        return None, None
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    attrs = pdf["event_type"].to_numpy()
    ts_us = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1_000

    if stored is not None:
        cur_attr, cur_ver, cur_from = stored
    else:
        cur_attr, cur_ver, cur_from = None, 0, None

    change = np.empty(len(attrs), dtype=bool)
    change[0] = cur_attr is None or attrs[0] != cur_attr
    change[1:] = attrs[1:] != attrs[:-1]
    idx = np.flatnonzero(change)
    if len(idx) == 0:
        return None, None  # batch continues the open version untouched

    out_attr: list[str] = []
    out_from: list[int] = []
    out_to: list[int] = []
    out_ver: list[int] = []
    if cur_attr is not None:
        # the stored open version closes at the first in-batch change
        out_attr.append(cur_attr)
        out_from.append(int(cur_from))
        out_to.append(int(ts_us[idx[0]]))
        out_ver.append(int(cur_ver))
    # in-batch versions: each closes at the next change; the last stays open
    for j in range(len(idx) - 1):
        out_attr.append(str(attrs[idx[j]]))
        out_from.append(int(ts_us[idx[j]]))
        out_to.append(int(ts_us[idx[j + 1]]))
        out_ver.append(int(cur_ver) + j + 1)

    new_state = (str(attrs[idx[-1]]), int(cur_ver) + len(idx), int(ts_us[idx[-1]]))
    emit = None
    if out_attr:
        emit = pd.DataFrame(
            {
                "user_id": [user_id] * len(out_attr),
                "event_type": out_attr,
                "valid_from": pd.to_datetime(out_from, unit="us"),
                "valid_to": pd.to_datetime(out_to, unit="us"),
                "version": out_ver,
            }
        )
    return emit, new_state


def _scd2_fn(key, pdf_iter, state: GroupState):
    (user_id,) = key
    emit, new_state = _compress_runs(
        user_id, pdf_iter, state.get if state.exists else None
    )
    if new_state is not None:
        state.update(new_state)
    if emit is not None:
        yield emit


def scd2_stream(events_stream: DataFrame) -> DataFrame:
    """Closed SCD2 versions per key, emitted as later events close them.
    Input needs ``user_id``, ``ts``, ``event_id``, ``event_type``."""
    return (
        events_stream.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_fn,
            outputStructType=SCD2_SCHEMA,
            stateStructType=SCD2_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
