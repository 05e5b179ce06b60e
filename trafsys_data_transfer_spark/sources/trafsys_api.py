"""TrafSys REST source adapter (S1/S2 + the §3.3 retry path).

The reference fetches each window driver-side — one paginationless GET for
the whole date range (/root/reference/script.js:141-166) — authenticated by
an OAuth2 password-grant token cached until 5 minutes before expiry
(script.js:37-52, 68-79), with exactly one retry after a 1-second sleep when
the API answers 401 (script.js:221-223, 243-254).

Spark-first shape: HTTP stays a driver-side concern (the payload for one
nightly window is small — the reference holds it in a single JS array); the
*engine* sees only a landed JSON-lines staging directory read back through
an explicit schema.  At 100 TB-scale backfills the fetch fans out per
sub-window via :func:`fetch_window_partitioned`, which distributes HTTP
calls across executors with ``mapInPandas`` — each task lands its own
sub-window, the engine still reads one staging dir.

The transport is injected (`transport(method, url, data/params, headers) ->
(status, body)`), so every behavior here — token caching, expiry, 401
retry — is unit-tested without a network, and a production `requests`-based
transport is a five-line drop-in.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..fsutil import process_staging_dir
from ..schemas import TRAFFIC_RAW_SCHEMA

#: transport(method, url, *, params, data, headers) -> (status_code, body_text)
Transport = Callable[..., tuple[int, str]]

#: Reuse a cached token until expiry minus this margin — "Offset by 5
#: minutes to give some wiggle room" (script.js:41).
TOKEN_WIGGLE = dt.timedelta(minutes=5)

#: Sleep before the single 401 retry — "prevent 429 Too Many Requests"
#: (script.js:221-223, comment at script.js:245).
RETRY_SLEEP_SECONDS = 1.0


class TrafsysApiError(RuntimeError):
    def __init__(self, status: int, body: str):
        super().__init__(f"TrafSys API error {status}: {body[:200]}")
        self.status = status


class TokenProvider:
    """OAuth2 password-grant token source with cache (S2).

    ``POST {base_url}token`` form-encoded ``{username, password,
    grant_type: 'password'}`` (script.js:68-79); the token and its
    ``.expires`` timestamp are cached and reused until
    ``expires - TOKEN_WIGGLE`` (script.js:37-47).

    The cache survives *processes*, not just calls: the reference stows
    ``AccessToken``/``AccessTokenExpiresAt`` in its NeDB run log and the
    next nightly run reuses them if still fresh (script.js:37-52).  Our
    equivalent is :meth:`seed` (called by the pipeline with the latest
    run-log row) plus the :attr:`cached_token`/:attr:`cached_expires_at`
    read-back the pipeline writes into the new run-log row.
    """

    #: .expires formats accepted, most-specific first.  The reference parses
    #: with JS ``new Date(...)`` (script.js:51), which is lenient; a strict
    #: single-format strptime would hard-fail the nightly run the day the
    #: vendor reformats a timestamp string.
    EXPIRES_FORMATS = (
        "%a, %d %b %Y %H:%M:%S %Z",  # RFC 1123: "Mon, 06 Jan 2025 12:00:00 GMT"
        "%a, %d %b %Y %H:%M:%S",
        "%Y-%m-%dT%H:%M:%S",
        "%Y-%m-%d %H:%M:%S",
    )

    def __init__(
        self,
        base_url: str,
        username: str,
        password: str,
        transport: Transport,
        now: Callable[[], dt.datetime] | None = None,
    ):
        self.base_url = base_url.rstrip("/") + "/"
        self.username = username
        self.password = password
        self.transport = transport
        self.now = now or (lambda: dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
        self._token: str | None = None
        self._expires_at: dt.datetime | None = None

    @classmethod
    def parse_expires(cls, value: str | None) -> dt.datetime | None:
        """Lenient ``.expires`` parse (the reference's ``new Date()``
        tolerance): try each known format, then ISO-8601; ``None`` means
        unparseable — the token is then used but never cache-reused, the
        same net behavior as JS's ``Invalid Date`` comparing false."""
        if not value:
            return None
        for fmt in cls.EXPIRES_FORMATS:
            try:
                return dt.datetime.strptime(value, fmt)
            except ValueError:
                continue
        try:
            parsed = dt.datetime.fromisoformat(value)
            return parsed.replace(tzinfo=None) if parsed.tzinfo else parsed
        except ValueError:
            return None

    def _fresh(self, expires_at: dt.datetime | None) -> bool:
        return expires_at is not None and self.now() < expires_at - TOKEN_WIGGLE

    @property
    def cached_token(self) -> str | None:
        return self._token

    @property
    def cached_expires_at(self) -> dt.datetime | None:
        return self._expires_at

    def seed(self, token: str | None, expires_at: dt.datetime | None) -> bool:
        """Adopt a previously-persisted token if it is still fresh
        (expiry − 5 min check, script.js:38-47).  Returns True when the
        seed was accepted — the next :meth:`token` call is then POST-free."""
        if token and self._fresh(expires_at):
            self._token = token
            self._expires_at = expires_at
            return True
        return False

    def token(self, force_refresh: bool = False) -> str:
        if not force_refresh and self._token is not None and self._fresh(self._expires_at):
            return self._token
        status, body = self.transport(
            "POST",
            self.base_url + "token",
            data={
                "username": self.username,
                "password": self.password,
                "grant_type": "password",
            },
        )
        if status != 200:
            raise TrafsysApiError(status, body)
        payload = json.loads(body)
        self._token = payload["access_token"]
        self._expires_at = self.parse_expires(payload.get(".expires"))
        return self._token


def fetch_traffic_records(
    base_url: str,
    tokens: TokenProvider,
    date_from: str,
    date_to: str,
    transport: Transport,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict[str, Any]]:
    """S1: one GET for the whole window, hourly grain, all sites
    (``SiteCode: ''``), internal locations included — the exact query the
    reference sends (script.js:143-149).  On 401: sleep 1 s, force a token
    refresh, retry exactly once (script.js:243-254); any other failure
    raises (the reference lets bad windows surface as API 400/500s,
    README.md:7).
    """
    params = {
        "SiteCode": "",
        "IncludeInternalLocations": "true",
        "DataSummedByDay": "false",
        "DateFrom": date_from,
        "DateTo": date_to,
    }
    url = base_url.rstrip("/") + "/api/traffic"

    def attempt(token: str) -> tuple[int, str]:
        return transport(
            "GET", url, params=params, headers={"Authorization": f"Bearer {token}"}
        )

    status, body = attempt(tokens.token())
    if status == 401:
        sleep(RETRY_SLEEP_SECONDS)
        status, body = attempt(tokens.token(force_refresh=True))
    if status != 200:
        raise TrafsysApiError(status, body)
    records = json.loads(body)
    if not isinstance(records, list):
        # T4: the reference's iterability guard (script.js:156-159).
        raise TrafsysApiError(status, f"expected a record array, got: {body[:80]}")
    return records


def land_records(records: list[dict[str, Any]], staging_dir: str | None = None) -> str:
    """Write fetched records as JSON-lines into a fresh per-fetch directory
    the engine reads back schema-first, and return that directory.
    Landing (rather than parallelize()) keeps the raw payload replayable —
    re-running a window is a re-read, not a re-fetch.

    The directory is created under ``staging_dir`` when given (kept for
    the caller), else under the process staging dir (removed at exit).
    Each fetch gets its own directory, so reading it back never replays
    an earlier night's payload from a reused ``staging_dir``."""
    root = staging_dir or process_staging_dir("trafsys_landing")
    landing = os.path.join(
        root, f"batch_{int(time.time() * 1000)}_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    with open(os.path.join(landing, "records.json"), "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    return landing


def read_landed(spark: SparkSession, staging_dir: str) -> DataFrame:
    """Schema-enforced read of landed payloads — the engine-side half of S1.
    FAILFAST mirrors the reference's throw-on-bad-response (§1.3)."""
    return (
        spark.read.schema(TRAFFIC_RAW_SCHEMA)
        .option("mode", "FAILFAST")
        .json(staging_dir)
    )


def make_fetch_window(
    spark: SparkSession,
    base_url: str,
    tokens: TokenProvider,
    transport: Transport,
    staging_dir: str | None = None,
) -> Callable[[str, str], DataFrame]:
    """Bind the adapter into the pipeline's injected ``fetch_window(from,
    to) -> DataFrame`` slot (plans/pipeline.py)."""

    def fetch_window(date_from: str, date_to: str) -> DataFrame:
        records = fetch_traffic_records(
            base_url, tokens, date_from, date_to, transport
        )
        return read_landed(spark, land_records(records, staging_dir))

    return fetch_window


def sub_windows(date_from: str, date_to: str, days_per_chunk: int = 7) -> list[tuple[str, str]]:
    """Split a backfill window into chunks for distributed fetching."""
    start = dt.date.fromisoformat(date_from)
    end = dt.date.fromisoformat(date_to)
    out = []
    cur = start
    while cur <= end:
        chunk_end = min(cur + dt.timedelta(days=days_per_chunk - 1), end)
        out.append((cur.isoformat(), chunk_end.isoformat()))
        cur = chunk_end + dt.timedelta(days=1)
    return out


def fetch_window_partitioned(
    spark: SparkSession,
    base_url: str,
    tokens: TokenProvider,
    transport_factory: Callable[[], Transport],
    date_from: str,
    date_to: str,
    days_per_chunk: int = 7,
) -> DataFrame:
    """Backfill-scale fetch: distribute per-sub-window HTTP GETs across the
    cluster with ``mapInPandas`` over a chunk list, parse each payload
    executor-side, and return the union as one schema-typed DataFrame.

    The nightly case never needs this (one day ≈ thousands of rows); a
    multi-year backfill at fleet scale does — the reference would hold the
    whole window in one driver array (script.js:154).  ``transport_factory``
    must be picklable (construct the HTTP client inside the task).

    Each task carries its own :class:`TokenProvider`, seeded with the
    driver's token: when a backfill outlasts the token TTL and the API
    answers 401, the task sleeps 1 s, re-auths *executor-side*, and
    retries that chunk once — the same §3.3 retry the driver-side fetch
    has (script.js:243-254).  Credentials therefore ship to executors,
    exactly as they would via the reference's process env.
    """
    import pandas as pd

    chunks = sub_windows(date_from, date_to, days_per_chunk)
    # Fetched once driver-side; each task seeds its local provider with it
    # so the common case (token outlives the job) makes zero extra POSTs.
    seed_token = tokens.token()
    seed_expires = tokens.cached_expires_at
    url, user, password = tokens.base_url, tokens.username, tokens.password
    chunk_df = spark.createDataFrame(chunks, ["DateFrom", "DateTo"]).repartition(
        max(len(chunks), 1)
    )

    def fetch_chunk(batches):
        transport = transport_factory()
        local_tokens = TokenProvider(url, user, password, transport)
        local_tokens.seed(seed_token, seed_expires)

        def attempt(row, token):
            return transport(
                "GET",
                base_url.rstrip("/") + "/api/traffic",
                params={
                    "SiteCode": "",
                    "IncludeInternalLocations": "true",
                    "DataSummedByDay": "false",
                    "DateFrom": row.DateFrom,
                    "DateTo": row.DateTo,
                },
                headers={"Authorization": f"Bearer {token}"},
            )

        for pdf in batches:
            for _, row in pdf.iterrows():
                status, body = attempt(row, local_tokens.token())
                if status == 401:
                    time.sleep(RETRY_SLEEP_SECONDS)
                    status, body = attempt(
                        row, local_tokens.token(force_refresh=True)
                    )
                if status != 200:
                    raise TrafsysApiError(status, body)
                records = json.loads(body)
                if records:
                    yield pd.DataFrame.from_records(records)[
                        [f.name for f in TRAFFIC_RAW_SCHEMA.fields]
                    ]

    return chunk_df.mapInPandas(fetch_chunk, TRAFFIC_RAW_SCHEMA)


def read_landed_permissive(spark: SparkSession, staging_dir: str):
    """PERMISSIVE variant of :func:`read_landed` — the at-scale upgrade of
    the reference's throw-on-bad-response guard (SURVEY.md §1.3): malformed
    lines land in ``_corrupt_record`` instead of failing the whole batch.
    Returns (clean_df, corrupt_df); the caller quarantines the corrupt rows
    (write them to a reject path) and loads the clean ones — one bad line
    in a 100 TB backfill should cost one row, not the job."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        TRAFFIC_RAW_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(staging_dir)
        .cache()  # required: _corrupt_record cannot be queried from a bare scan
    )
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return clean, corrupt
