"""Seeded TrafSys API payloads, an in-process transport, and the
last-write-wins reference the nightly load must reproduce.

The feed models the reference's nightly job: a `--from/--to` backfill, then
default-window nights whose `DateFrom` is the previous run's `ToDate`, so
the boundary day is fetched twice and its values restated.  Each fetch
draws fresh `Ins`/`Outs` for every key it covers and repeats ~1% of its
rows with different counts (in-batch duplicate keys).  Each body is
serialized once, before the run that fetches it starts.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np

HOURS = 24
LOCATIONS = 4
#: The last location of every site is an internal one.
INTERNAL_LOCATION = LOCATIONS - 1
DUPLICATE_SHARE = 0.01
FIRST_DAY = dt.date(2024, 3, 1)


def _day_records(rng, day: dt.date, sites: int) -> list[dict]:
    n = sites * LOCATIONS * HOURS
    ins = rng.integers(0, 500, n)
    outs = rng.integers(0, 500, n)
    out = []
    i = 0
    for s in range(sites):
        for loc in range(LOCATIONS):
            for h in range(HOURS):
                out.append(
                    {
                        "SiteCode": f"S{s:04d}",
                        "Location": f"L{loc}",
                        "IsInternal": loc == INTERNAL_LOCATION,
                        "PeriodEnding": f"{day.isoformat()}T{h:02d}:00:00",
                        "Ins": int(ins[i]),
                        "Outs": int(outs[i]),
                    }
                )
                i += 1
    return out


class Feed:
    """The fetch windows of one run, in order, each with its pre-serialized
    body: a `--from/--to` backfill, then one default-window night at a
    time (`next_night`).  A window is generated before the run that fetches
    it, so generation stays outside the timed region."""

    def __init__(self, seed: int, sites: int, backfill_days: int):
        self.rng = np.random.default_rng(seed)
        self.sites = sites
        self.windows: list[tuple[str, str]] = []
        self.bodies: dict[tuple[str, str], str] = {}
        #: Rows and distinct keys delivered per window.
        self.rows: dict[tuple[str, str], int] = {}
        self.delivered_keys: dict[tuple[str, str], int] = {}
        #: Last-write-wins state after every window so far:
        #: (SiteCode, Location, PeriodEnding) -> (IsInternal, Ins, Outs).
        self.expected_target: dict[tuple, tuple] = {}
        last = FIRST_DAY + dt.timedelta(days=backfill_days - 1)
        self.backfill = (FIRST_DAY.isoformat(), last.isoformat())
        self._add(self.backfill)

    def next_night(self) -> dt.date:
        """Generate the next night's window and return the `today` to run
        it with: its default window is [previous ToDate, today - 1 day]."""
        lo = dt.date.fromisoformat(self.windows[-1][1])
        hi = lo + dt.timedelta(days=1)
        self._add((lo.isoformat(), hi.isoformat()))
        return hi + dt.timedelta(days=1)

    def _add(self, window: tuple[str, str]) -> None:
        lo, hi = window
        rng = self.rng
        day = dt.date.fromisoformat(lo)
        recs: list[dict] = []
        while day <= dt.date.fromisoformat(hi):
            recs.extend(_day_records(rng, day, self.sites))
            day += dt.timedelta(days=1)
        for j in rng.choice(len(recs), int(len(recs) * DUPLICATE_SHARE), replace=False):
            dup = dict(recs[j])
            dup["Ins"] = int(rng.integers(0, 500))
            dup["Outs"] = int(rng.integers(0, 500))
            recs.append(dup)
        self.windows.append(window)
        self.bodies[window] = json.dumps(recs)
        self.rows[window] = len(recs)
        # Within one fetch the pipeline keeps, per key, the row with the
        # greatest (Ins, Outs, IsInternal); a later fetch replaces an
        # earlier one's row for the same key.
        batch: dict[tuple, tuple] = {}
        for r in recs:
            key = (r["SiteCode"], r["Location"], r["PeriodEnding"].replace("T", " "))
            val = (r["Ins"], r["Outs"], int(r["IsInternal"]))
            if key not in batch or val > batch[key]:
                batch[key] = val
        self.delivered_keys[window] = len(batch)
        self.expected_target.update({k: (v[2], v[0], v[1]) for k, v in batch.items()})


class FeedTransport:
    """`transport(method, url, *, params, data, headers) -> (status, body)`
    serving the feed's bodies; counts GETs and token POSTs."""

    def __init__(self, feed: Feed):
        self.feed = feed
        self.gets = 0
        self.posts = 0

    def __call__(self, method, url, params=None, data=None, headers=None):
        if method == "POST":
            self.posts += 1
            expires = dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=1)
            return 200, json.dumps(
                {
                    "access_token": f"token-{self.posts}",
                    ".expires": expires.strftime("%a, %d %b %Y %H:%M:%S GMT"),
                }
            )
        self.gets += 1
        return 200, self.feed.bodies[(params["DateFrom"], params["DateTo"])]
