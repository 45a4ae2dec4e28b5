"""Seeded inputs for the ``ingest_tick`` workload, and the state they imply.

The generator plays the rate provider. It writes the pair universe CSV,
the store's seed history and, per tick, a drop of ``{base}_{target}.json``
documents in the Alpha Vantage ``FX_DAILY`` shape (FIXTURES.md A3). It
keeps the last-writer-wins state the store must hold after each tick, so
the benchmark can check the committed store without trusting the program.

Everything is a function of the seed: the same seed writes byte-identical
drops. A drop re-delivers the last ``drop_days`` trading days of every pair,
one day newer than the previous drop. A seeded share of re-delivered closes
are revised (the provider corrected them), and a seeded share of documents
are malformed (truncated JSON, or a rate-limit note with no time series),
which the program must quarantine.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import duckdb
import numpy as np
import pyarrow as pa

CURRENCIES = ("USD", "EUR", "GBP", "JPY", "CHF", "AUD", "CAD", "NZD", "CNY", "HKD", "SGD")
# USD value of one unit, to start each pair's walk near a realistic level.
_USD_VALUE = (1.0, 1.08, 1.27, 0.0067, 1.12, 0.66, 0.73, 0.61, 0.138, 0.128, 0.74)
PAIRS = tuple((b, t) for b in CURRENCIES for t in CURRENCIES if t != b)

FIRST_DAY = dt.date(2003, 1, 6)  # a Monday
# Ingestion time of the seed history: older than any tick's wall clock, so
# every re-delivered row wins the last-writer-wins merge.
SEED_INGESTED = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
UNIT = 100_000  # closes are quoted with 5 decimals
REVISE_SHARE = 0.01  # re-delivered closes the provider corrected
RATE_NOTE = (
    "Thank you for using Alpha Vantage! Our standard API rate limit is "
    "25 requests per day."
)


def trading_days(n: int, start: dt.date = FIRST_DAY) -> list[dt.date]:
    """The first ``n`` weekdays from ``start``."""
    days, d = [], start
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _quote(units: int) -> str:
    return f"{units // UNIT}.{units % UNIT:05d}"


class TickInputs:
    """Writes one run's inputs under ``root`` and tracks the expected store.

    ``drop(k)`` must be called for k = 1, 2, ... in order: a revision in
    drop k persists into later re-deliveries of the same day.
    """

    def __init__(
        self,
        root: str,
        seed: int,
        seed_days: int = 5000,
        drop_days: int = 100,
        max_ticks: int = 400,
        malformed_share: float = 0.02,
    ):
        self.root = root
        self.seed = seed
        self.seed_days = seed_days
        self.drop_days = drop_days
        self.max_ticks = max_ticks
        self.malformed_share = malformed_share
        self.days = trading_days(seed_days + max_ticks)
        self.day_ms = np.array(
            [
                int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp())
                * 1000
                for d in self.days
            ],
            dtype=np.int64,
        )
        rng = np.random.default_rng([seed, 0])
        level = np.array(
            [_USD_VALUE[CURRENCIES.index(b)] / _USD_VALUE[CURRENCIES.index(t)] for b, t in PAIRS]
        )
        steps = rng.normal(0.0, 0.004, size=(len(PAIRS), len(self.days)))
        walk = level[:, None] * np.exp(np.cumsum(steps, axis=1))
        # The provider's current view of every close, in 1e-5 units.
        self.provider = np.rint(np.clip(walk, 0.001, 5000.0) * UNIT).astype(np.int64)
        # What the store must hold: -1 where no row exists yet.
        self.stored = np.full_like(self.provider, -1)
        self.stored[:, :seed_days] = self.provider[:, :seed_days]
        self.ticks = 0
        os.makedirs(root, exist_ok=True)

    # -- fixed inputs ---------------------------------------------------------
    def write_pairs_csv(self) -> str:
        path = os.path.join(self.root, "currency_pairs.csv")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("base_currency,target_currency\n")
            fh.writelines(f"{b},{t}\n" for b, t in PAIRS)
        return path

    def write_seed_store(self, store: str) -> str:
        """Create the store holding the seed history: one parquet file in
        the store's schema, as another tool would have left it. The first
        tick rewrites it through the program's own sink."""
        os.makedirs(store)
        path = os.path.join(store, "part-00000-seed.snappy.parquet")
        con = duckdb.connect()
        try:
            con.register("e", self._state_table(self.seed_days))
            con.execute(
                f"""COPY (
                  SELECT event_time, ccy_couple,
                         CAST(CAST(rate_micro AS DECIMAL(18, 0)) * 0.000001 AS DECIMAL(10, 6)) AS rate,
                         to_timestamp(event_time // 1000) AS date,
                         TIMESTAMPTZ '{SEED_INGESTED.isoformat()}' AS "timestamp"
                  FROM e ORDER BY ccy_couple, event_time
                ) TO '{path}' (FORMAT PARQUET)"""
            )
        finally:
            con.close()
        return path

    # -- per-tick drops -------------------------------------------------------
    def drop(self, k: int) -> tuple[str, dt.datetime, dict]:
        """Write drop ``k`` (1-based) and return (directory, now, stats).

        ``stats`` counts what the drop should change in the store:
        ``inserted`` new keys, ``changed`` revised closes, ``malformed``
        documents, and the drop's ``bytes`` on disk.
        """
        if k != self.ticks + 1:
            raise ValueError(f"drops are generated in order; expected {self.ticks + 1}, got {k}")
        newest = self.seed_days - 1 + k
        if newest >= len(self.days):
            raise ValueError(f"drop {k} is past max_ticks={self.max_ticks}")
        lo = newest - self.drop_days + 1
        rng = np.random.default_rng([self.seed, k])
        revise = rng.random((len(PAIRS), self.drop_days - 1)) < REVISE_SHARE
        delta = rng.integers(1, 60, size=revise.shape) * rng.choice((-1, 1), size=revise.shape)
        window = self.provider[:, lo:newest]
        window += np.where(revise, delta, 0)
        np.maximum(window, 1, out=window)
        malformed = rng.random(len(PAIRS)) < self.malformed_share
        truncate = rng.random(len(PAIRS)) < 0.5

        out = os.path.join(self.root, f"drop_{k:04d}")
        os.makedirs(out, exist_ok=True)
        inserted = changed = n_bytes = 0
        for p, (base, target) in enumerate(PAIRS):
            closes = self.provider[p, lo : newest + 1]
            text = self._document(base, target, lo, closes)
            if malformed[p]:
                text = text[: len(text) // 2] if truncate[p] else json.dumps(
                    {"Note": RATE_NOTE}
                )
            else:
                before = self.stored[p, lo : newest + 1]
                inserted += int(np.sum(before < 0))
                changed += int(np.sum((before >= 0) & (before != closes)))
                self.stored[p, lo : newest + 1] = closes
            path = os.path.join(out, f"{base}_{target}.json")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(text)
            n_bytes += len(text)
        self.ticks = k
        d = self.days[newest] + dt.timedelta(days=1)
        now = dt.datetime(d.year, d.month, d.day, 12, tzinfo=dt.timezone.utc)
        stats = {
            "inserted": inserted,
            "changed": changed,
            "malformed": int(malformed.sum()),
            "bytes": n_bytes,
        }
        return out, now, stats

    def _document(self, base: str, target: str, lo: int, closes: np.ndarray) -> str:
        series = {}
        for i in range(len(closes) - 1, -1, -1):  # newest first, like the API
            c = int(closes[i])
            o = int(closes[max(i - 1, 0)])
            series[self.days[lo + i].isoformat()] = {
                "1. open": _quote(o),
                "2. high": _quote(max(o, c)),
                "3. low": _quote(min(o, c)),
                "4. close": _quote(c),
            }
        doc = {
            "Meta Data": {
                "1. Information": "Forex Daily Prices (open, high, low, close)",
                "2. From Symbol": base,
                "3. To Symbol": target,
                "4. Output Size": "Compact",
                "5. Last Refreshed": self.days[lo + len(closes) - 1].isoformat(),
                "6. Time Zone": "UTC",
            },
            "Time Series FX (Daily)": series,
        }
        return json.dumps(doc, indent=4)

    # -- expected state -------------------------------------------------------
    def live_rows(self) -> int:
        return int(np.sum(self.stored >= 0))

    def expected_table(self) -> pa.Table:
        """Expected store rows: (ccy_couple, event_time, rate_micro)."""
        return self._state_table(self.stored.shape[1])

    def _state_table(self, n_days: int) -> pa.Table:
        state = self.stored[:, :n_days]
        p_idx, d_idx = np.nonzero(state >= 0)
        names = np.array([f"{b}/{t}" for b, t in PAIRS], dtype=object)
        return pa.table(
            {
                "ccy_couple": pa.array(names[p_idx], pa.string()),
                "event_time": pa.array(self.day_ms[d_idx], pa.int64()),
                "rate_micro": pa.array(state[p_idx, d_idx] * (1_000_000 // UNIT), pa.int64()),
            }
        )
