"""The monthly journey: seeded raw CSVs, their landing, and a reference.

Each month is one headerless 10-column CSV in the shape the engine's
ingest reads (``schemas.RAW_CSV_COLUMNS``). The generator is seeded and
writes byte-identical files for the same seed. Every file mixes:

- every ``functions.parsers.DATE_FORMATS`` entry, and 24h, 12h and
  seconds-bearing times;
- K/M/B/T and ``%`` numerics, plain numbers and N/A tokens;
- event names with quoted commas;
- intra-batch duplicate keys, whose later row must win;
- rows dated before the previous month's high-water mark, which must be
  dropped;
- rows whose date or time no format accepts, which must be rejected.

Series sizes are skewed, so after the first months some series pass the
routing threshold (``rnn`` inference island) and most stay below it
(``xgb``).

:func:`reference_upsert` is the pure-Python model of one landing:
parse, reject, high-water-mark drop, then newest-wins per natural key
``(Date, Time, Currency, Event)``, the later delivered row winning among
equal timestamps. The benchmark compares the engine's final target with
it.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random

#: ``functions.parsers.DATE_FORMATS`` as ``strftime`` patterns, same order.
#: Day and month numbers are written without zero padding where the Java
#: pattern has a single letter.
DATE_PATTERNS = (
    "yyyy-MM-dd", "d MMMM yyyy", "M/d/yyyy", "d/M/yyyy", "yyyy/M/d",
    "M-d-yyyy", "d-M-yyyy", "MMM d, yyyy", "MMMM d, yyyy",
)
_PARSE = (
    "%Y-%m-%d", "%d %B %Y", "%m/%d/%Y", "%d/%m/%Y", "%Y/%m/%d",
    "%m-%d-%Y", "%d-%m-%Y", "%b %d, %Y", "%B %d, %Y",
)
CURRENCIES = ("USD", "EUR", "GBP", "JPY", "AUD", "CAD", "CHF", "NZD")
EVENTS = (
    "CPI m/m", "Nonfarm Payrolls, SA", "GDP q/q", "Retail Sales, NSA",
    "Unemployment Rate", "Interest Rate Decision", "PMI, Manufacturing",
    "Trade Balance", "Building Permits", "Consumer Confidence",
)
NA_TOKENS = ("", "nan", "None", "NULL", "N/A", "  ")
FIRST_MONTH = dt.date(2025, 1, 1)


def _fmt_date(d: dt.date, pattern: str) -> str:
    month, mon = d.strftime("%B"), d.strftime("%b")
    return {
        "yyyy-MM-dd": d.isoformat(),
        "d MMMM yyyy": f"{d.day} {month} {d.year}",
        "M/d/yyyy": f"{d.month}/{d.day}/{d.year}",
        "d/M/yyyy": f"{d.day}/{d.month}/{d.year}",
        "yyyy/M/d": f"{d.year}/{d.month}/{d.day}",
        "M-d-yyyy": f"{d.month}-{d.day}-{d.year}",
        "d-M-yyyy": f"{d.day}-{d.month}-{d.year}",
        "MMM d, yyyy": f"{mon} {d.day}, {d.year}",
        "MMMM d, yyyy": f"{month} {d.day}, {d.year}",
    }[pattern]


def _fmt_time(secs: int, style: int) -> str:
    h, m = divmod(secs // 60, 60)
    if style == 0:
        return f"{h:02d}:{m:02d}"
    if style == 1:
        return f"{(h % 12) or 12}:{m:02d} {'AM' if h < 12 else 'PM'}"
    if style == 2:
        return f"{h}:{m:02d}:00"
    return f"0 days {h:02d}:{m:02d}:00"


def _numeric(rng: random.Random) -> str:
    kind = rng.randrange(8)
    x = rng.uniform(-5.0, 500.0)
    if kind == 0:
        return f"{x / 100:.1f}%"
    if kind in (1, 2, 3, 4):
        return f"{x:.1f}{'KMBT'[kind - 1]}"
    if kind == 5:
        return rng.choice(NA_TOKENS)
    return f"{x:.2f}"


def _month_start(index: int) -> dt.date:
    y, m = divmod(FIRST_MONTH.month - 1 + index, 12)
    return dt.date(FIRST_MONTH.year + y, m + 1, 1)


def month_rows(seed: int, index: int, n: int) -> list[list[str]]:
    """The ``n`` raw rows of month ``index`` for ``seed``."""
    rng = random.Random(f"{seed}:{index}")
    start = _month_start(index)
    days = (_month_start(index + 1) - start).days
    weights = [1.0 / (1 + k) for k in range(len(CURRENCIES) * len(EVENTS))]
    rows: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if rows and r < 0.04:
            # intra-batch duplicate: same key, revised values, later row
            dup = list(rows[rng.randrange(len(rows))])
            dup[5] = _numeric(rng)
            rows.append(dup)
            continue
        series = rng.choices(range(len(weights)), weights)[0]
        cur, ev = CURRENCIES[series % 8], EVENTS[series // 8]
        day = start + dt.timedelta(days=rng.randrange(days))
        if index > 0 and r < 0.07:
            day = start - dt.timedelta(days=rng.randrange(5, 40))  # before the HWM
        pattern = DATE_PATTERNS[i % len(DATE_PATTERNS)]
        if pattern in ("d/M/yyyy", "d-M-yyyy") and day.day <= 12:
            # day-first numeric dates are only unambiguous after the 12th;
            # earlier ones would parse month-first into another month
            pattern = "M" + pattern[1] + "d" + pattern[3:]
        date_s = _fmt_date(day, pattern)
        time_s = _fmt_time(rng.randrange(96) * 900, rng.randrange(4))
        if 0.07 <= r < 0.09:
            date_s = rng.choice(("not-a-date", "2025-13-45", "TBD"))
        elif 0.09 <= r < 0.10:
            time_s = rng.choice(("25:61", "noon", "All Day"))
        impact = rng.choice(("low", "medium", "high", "high", "High", ""))
        rows.append([
            date_s, time_s, cur, ev, impact, _numeric(rng), _numeric(rng),
            _numeric(rng), rng.choice(("0", "1")), f"wk{1 + day.day // 7}",
        ])
    return rows


def write_month(path: str, rows: list[list[str]]) -> None:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerows(rows)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(buf.getvalue())


def write_months(out_dir: str, seed: int, months: int, rows_per_month: int) -> list[str]:
    """Write ``months`` CSVs under ``out_dir``; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for m in range(months):
        path = os.path.join(out_dir, f"month_{m:02d}.csv")
        write_month(path, month_rows(seed, m, rows_per_month))
        paths.append(path)
    return paths


# ------------------------------------------------------------ reference


def date_format_index(s: str) -> int | None:
    """Index of the first ``DATE_PATTERNS`` entry that accepts ``s``."""
    for i, fmt in enumerate(_PARSE):
        try:
            dt.datetime.strptime(s.strip(" "), fmt)
            return i
        except ValueError:
            continue
    return None


def parse_date(s: str) -> dt.date | None:
    i = date_format_index(s)
    return None if i is None else dt.datetime.strptime(s.strip(" "), _PARSE[i]).date()


def parse_time(s: str) -> int | None:
    s = s.strip(" ")
    if s.startswith("0 days "):
        s = s[len("0 days "):]
    for fmt in ("%H:%M", "%I:%M %p", "%H:%M:%S"):
        try:
            t = dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
        return t.hour * 3600 + t.minute * 60 + t.second
    return None


def clean_text(s: str | None) -> str:
    t = (s or "").strip(" ")
    return "N/A" if t.lower() in ("", "nan", "none", "null") else t


#: Target columns the reference models (the natural key plus payload).
TARGET_COLUMNS = (
    "event_ts", "Date", "Time", "Currency", "Event",
    "Impact", "Actual", "Forecast", "Previous",
)


def clean_rows(rows: list[list[str]]) -> list[tuple]:
    """Parsed rows in delivery order; unparseable rows are dropped."""
    out = []
    for r in rows:
        d, secs = parse_date(r[0]), parse_time(r[1])
        if d is None or secs is None:
            continue
        ts = dt.datetime.combine(d, dt.time()) + dt.timedelta(seconds=secs)
        out.append((ts, d, f"{secs // 3600:02d}:{secs % 3600 // 60:02d}",
                    *(clean_text(v) for v in r[2:8])))
    return out


def reference_upsert(table: dict, rows: list[list[str]]) -> dict:
    """Land one month into ``table`` (natural key -> row) and return it."""
    hwm = max((v[0] for v in table.values()), default=None)
    for row in clean_rows(rows):
        if hwm is not None and row[0] <= hwm:
            continue
        key = (row[1], row[2], row[3], row[4])
        old = table.get(key)
        if old is None or row[0] >= old[0]:
            table[key] = row
    return table
