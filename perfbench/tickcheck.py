"""Output checks for one ``cli.tick``, independent of the program.

After every tick, outside its timed region, the benchmark checks:

- the committed store holds exactly the generator's last-writer-wins state
  on ``(ccy_couple, date, rate, event_time)``;
- the printed report equals the reference analysis query (``Fx_1min.py``
  v2: latest active rate vs the second-latest at or before the previous
  New York 17:00 close), run by DuckDB over the committed store at the
  same ``now``;
- the printed quarantine count and the run-log line count the drop's
  malformed documents.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import re
from zoneinfo import ZoneInfo

import duckdb
import pyarrow as pa

# Multiset fingerprint of the store: row count plus a sum of row hashes.
_FINGERPRINT = """
SELECT count(*), sum(hash(ccy_couple, event_time, date_ms, rate_micro)::HUGEINT)
FROM {rel}
"""

# The reference query as written in Fx_1min.py v2 (correlated subquery for
# the previous close), transcribed for DuckDB.
_REFERENCE = """
WITH t AS (SELECT * FROM read_parquet('{store}/*.parquet')),
ActiveRates AS (
  SELECT ccy_couple, rate, event_time, "timestamp" FROM t
  WHERE "timestamp" >= (SELECT max("timestamp") FROM t) - INTERVAL 30 SECOND
), LatestRates AS (
  SELECT ccy_couple, rate AS current_rate FROM (
    SELECT ccy_couple, rate,
           row_number() OVER (PARTITION BY ccy_couple
                              ORDER BY event_time DESC, "timestamp" DESC) AS rn
    FROM ActiveRates) WHERE rn = 1
), LatestEOD AS (
  SELECT ccy_couple, max(event_time) AS max_et FROM t
  WHERE date <= TIMESTAMP '{cutoff}' GROUP BY ccy_couple
), PreviousRates AS (
  SELECT e1.ccy_couple, e1.rate AS previous_rate
  FROM t e1 JOIN LatestEOD lr ON e1.ccy_couple = lr.ccy_couple
  WHERE e1.event_time < lr.max_et
    AND e1.event_time = (SELECT max(e2.event_time) FROM t e2
                         WHERE e2.ccy_couple = e1.ccy_couple
                           AND e2.event_time < lr.max_et)
)
SELECT lr.ccy_couple, lr.current_rate, pr.previous_rate
FROM LatestRates lr JOIN PreviousRates pr USING (ccy_couple)
"""

_QUARANTINE = re.compile(r"^\[quarantine\] (\d+) payload\(s\) set aside$", re.M)


def ny_close_before(now: dt.datetime) -> dt.datetime:
    """Yesterday 17:00 in New York, as naive UTC (``Fx_1min.py:133-141``)."""
    ny = now.astimezone(ZoneInfo("America/New_York")) - dt.timedelta(days=1)
    close = ny.replace(hour=17, minute=0, second=0, microsecond=0)
    return close.astimezone(dt.timezone.utc).replace(tzinfo=None)


def pct_label(cur: decimal.Decimal, prev: decimal.Decimal) -> str:
    """``ROUND(100 * (cur - prev) / prev, 2) || '%'`` as the program defines
    it: double arithmetic, then half-up rounding of the double's shortest
    decimal form (no negative zero)."""
    c, p = float(cur), float(prev)
    value = decimal.Decimal(repr((c - p) / p * 100)).quantize(
        decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
    )
    return f"{float(value) + 0.0:.2f}%"


def parse_report(text: str) -> list[tuple[str, ...]]:
    """Rows of the fixed-width report ``cli.tick`` prints: the lines between
    the dashed rule and the first bracketed status line."""
    lines = text.splitlines()
    start = next(i for i, line in enumerate(lines) if line and set(line) == {"-"})
    rows = []
    for line in lines[start + 1 :]:
        if not line.strip() or line.startswith("[") or line.startswith("Script executed"):
            break
        rows.append(tuple(line.split()))
    return sorted(rows)


def check_tick(
    store: str,
    expected: pa.Table,
    now: dt.datetime,
    printed: str,
    log_line: str,
    malformed: int,
) -> list[str]:
    """Every way the tick's outputs differ from the reference; empty if none."""
    problems = []
    con = duckdb.connect()
    try:
        con.register("expected", expected)
        want = con.execute(
            _FINGERPRINT.format(
                rel="(SELECT ccy_couple, event_time, event_time AS date_ms, rate_micro FROM expected)"
            )
        ).fetchone()
        got = con.execute(
            _FINGERPRINT.format(
                rel=f"""(SELECT ccy_couple, event_time, epoch_ms(date) AS date_ms,
                               CAST(rate * 1000000 AS BIGINT) AS rate_micro
                        FROM read_parquet('{store}/*.parquet'))"""
            )
        ).fetchone()
        if got != want:
            problems.append(f"store rows/hash {got} != expected {want}")

        cutoff = ny_close_before(now).strftime("%Y-%m-%d %H:%M:%S")
        ref = con.execute(_REFERENCE.format(store=store, cutoff=cutoff)).fetchall()
    finally:
        con.close()
    want_rows = sorted((c, str(cur), str(prev), pct_label(cur, prev)) for c, cur, prev in ref)
    try:
        got_rows = parse_report(printed)
    except StopIteration:
        got_rows = None
    if got_rows != want_rows:
        diff = None if got_rows is None else sorted(set(got_rows) ^ set(want_rows))[:3]
        problems.append(f"report differs from the reference query: {diff}")

    m = _QUARANTINE.search(printed)
    if (int(m.group(1)) if m else 0) != malformed:
        problems.append(f"printed quarantine count != {malformed}")
    if json.loads(log_line).get("quarantined") != malformed:
        problems.append(f"run log quarantined != {malformed}")
    return problems
