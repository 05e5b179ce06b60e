"""Inline data-quality metrics via ``DataFrame.observe`` (T4 extended).

The reference's only input validation is the is-it-iterable payload check
(script.js:156-159).  A pipeline at 100 TB wants invariants checked on
every load — but a separate validation query would re-scan the batch.
``observe`` attaches aggregate metrics to the EXISTING action: the
metrics ride the same job, cost nothing extra, and are retrieved after
any action on the observed DataFrame.

    out, obs = observe_traffic_quality(normalized)
    sink(out)                        # one action, metrics collected inline
    assert_traffic_quality(obs.get)  # raises on violated invariants

An observation's metrics arrive only after its action has run — after a
sink has written.  The nightly loader (``plans.pipeline.load_batch``)
must gate BEFORE its MERGE writes, so it puts the same
:func:`traffic_quality_counts` into the grouped aggregate it already runs
over the persisted batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class QualityViolation(RuntimeError):
    """A load batch violated a hard invariant; the caller must NOT advance
    the watermark (the reference's error-containment contract,
    script.js:258-265)."""


def observe_traffic_quality(
    df: DataFrame, name: str = "traffic_quality"
) -> tuple[DataFrame, Observation]:
    """Attach the traffic-load invariants to ``df``'s next action:
    row count, null-PK count, negative-count count, and the batch's max
    ``PeriodEnding`` (the watermark candidate — read it from the metrics
    instead of a second ``agg(max)`` pass)."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        *traffic_quality_counts(),
        F.max("PeriodEnding").alias("max_period_ending"),
    )
    return out, obs


def traffic_quality_counts() -> list:
    """The hard-invariant counts :func:`assert_traffic_quality` gates on,
    as aggregate expressions: ``n_null_pk`` (a null ``SiteCode``,
    ``Location`` or ``PeriodEnding``) and ``n_negative`` (a negative
    ``Ins`` or ``Outs``).  They ride any ``agg``/``observe`` the caller
    already runs."""
    return [
        F.count_if(
            F.col("SiteCode").isNull()
            | F.col("Location").isNull()
            | F.col("PeriodEnding").isNull()
        ).alias("n_null_pk"),
        F.count_if((F.col("Ins") < 0) | (F.col("Outs") < 0)).alias("n_negative"),
    ]


def assert_traffic_quality(metrics: dict) -> dict:
    """Gate on the observed metrics (call AFTER an action ran): hard
    invariants raise :class:`QualityViolation`; returns the metrics for
    run-log recording."""
    if metrics["n_null_pk"]:
        raise QualityViolation(
            f"{metrics['n_null_pk']} rows with null PK columns in the batch"
        )
    if metrics["n_negative"]:
        raise QualityViolation(
            f"{metrics['n_negative']} rows with negative counts in the batch"
        )
    return metrics
