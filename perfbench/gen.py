"""Seeded USGS-feed generator for the product-path benchmark.

Everything here is plain Python driven by one `random.Random(seed)`, so
the same seed gives byte-identical files on any host. The program under
test only ever sees the CSV files written by `write_feed`; the rows are
kept in memory for the independent reference check (reference.py).

Shape of the feed (the 22-column header of the USGS `all_day.csv` /
`query?format=csv` endpoints):

- place strings of three kinds: "N km DIR of City, <US state>" (full
  name or USPS code, so the states lookup is hit), "City, Country" /
  "N km DIR of City, Country", and forms with no comma; a few are empty;
- a realistic event-type mix (~95% earthquake) and a Gutenberg-Richter
  magnitude distribution (b = 1 above M_MIN);
- REJECT_SHARE of the earthquake rows break exactly one staging gate
  (depth < 1, magError > 0.5, depthError > 30 or mag < 1) and
  MALFORMED_SHARE of all rows carry an unparseable gate numeric;
- rolling-window daily deliveries in which about half of each file
  re-sends the previous delivery and a few re-sends carry a revised
  magnitude.
"""

from __future__ import annotations

import csv
import datetime as dt
import math
import random
import string
from dataclasses import dataclass

COLUMNS = [
    "time", "latitude", "longitude", "depth", "mag", "magType", "nst",
    "gap", "dmin", "rms", "net", "id", "updated", "place", "type",
    "horizontalError", "depthError", "magError", "magNst", "status",
    "locationSource", "magSource",
]

FLOAT_COLUMNS = {
    "latitude", "longitude", "depth", "mag", "gap", "dmin", "rms",
    "horizontalError", "depthError", "magError",
}

# (type, weight): roughly the USGS all-month mix
TYPE_MIX = [
    ("earthquake", 0.947), ("quarry blast", 0.02), ("explosion", 0.012),
    ("ice quake", 0.008), ("chemical explosion", 0.004),
    ("landslide", 0.003), ("other event", 0.003), ("sonic boom", 0.0015),
    ("volcanic eruption", 0.0015),
]
NETS = ["ak", "av", "ci", "hv", "ld", "mb", "nc", "nm", "nn", "pr", "tx", "us", "uu", "uw"]
MAG_TYPES = ["md", "ml", "ms", "mw", "mww", "mb", "mb_lg", "mh"]
DIRS = ["N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE", "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW"]
US_PLACES = [
    ("Ridgecrest", "California", "CA"), ("Petrolia", "California", "CA"),
    ("The Geysers", "California", "CA"), ("Anza", "California", "CA"),
    ("Pahala", "Hawaii", "HI"), ("Volcano", "Hawaii", "HI"),
    ("Anchorage", "Alaska", "AK"), ("Sand Point", "Alaska", "AK"),
    ("Nikiski", "Alaska", "AK"), ("Tonopah", "Nevada", "NV"),
    ("Pecos", "Texas", "TX"), ("Mentone", "Texas", "TX"),
    ("Stanley", "Idaho", "ID"), ("West Yellowstone", "Montana", "MT"),
    ("Magna", "Utah", "UT"), ("Ridgely", "Tennessee", "TN"),
    ("Medford", "Oklahoma", "OK"), ("Mount St. Helens", "Washington", "WA"),
    ("Trinidad", "Colorado", "CO"), ("Socorro", "New Mexico", "NM"),
]
WORLD_PLACES = [
    ("Hihifo", "Tonga"), ("Ishinomaki", "Japan"), ("Hualien City", "Taiwan"),
    ("Ovalle", "Chile"), ("Sola", "Vanuatu"), ("Kokopo", "Papua New Guinea"),
    ("Tobelo", "Indonesia"), ("Port-Olry", "Vanuatu"), ("Ndoi Island", "Fiji"),
    ("Kermadec Islands", "New Zealand"), ("Cartago", "Costa Rica"),
    ("Esperanza", "Mexico"), ("Tarapaca", "Chile"), ("Bitung", "Indonesia"),
    ("Adak", "Aleutian Islands"), ("Ponce", "Puerto Rico"), ("Lata", "Solomon Islands"),
    ("Namie", "Japan"), ("Kirakira", "Solomon Islands"), ("Abepura", "Indonesia"),
]
NO_COMMA_PLACES = [
    "southern Mid-Atlantic Ridge", "Fiji region", "south of the Kermadec Islands",
    "central East Pacific Rise", "Reykjanes Ridge", "Owen Fracture Zone region",
    "Balleny Islands region", "South Sandwich Islands region", "Pacific-Antarctic Ridge",
    "north of Ascension Island",
]

M_MIN = 1.0           # Gutenberg-Richter lower cut-off
B_VALUE = 1.0         # Gutenberg-Richter b
REJECT_SHARE = 0.08   # earthquake rows that break one staging gate
MALFORMED_SHARE = 0.002
EMPTY_PLACE_SHARE = 0.01
REVISED_SHARE = 0.05  # re-sent rows that carry a revised magnitude
RESEND_SHARE = 0.5    # share of a delivery that re-sends the previous one


def iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _weighted(rng: random.Random, pairs):
    x = rng.random() * sum(w for _v, w in pairs)
    for v, w in pairs:
        x -= w
        if x < 0:
            return v
    return pairs[-1][0]


def _opt(rng: random.Random, p_empty: float, text: str) -> str:
    return "" if rng.random() < p_empty else text


def _gr_magnitude(rng: random.Random) -> float:
    # P(M >= m) = 10^(-b (m - M_MIN)): exponential with rate b ln 10
    return min(M_MIN + rng.expovariate(B_VALUE * math.log(10)), 9.4)


def _place(rng: random.Random) -> str:
    r = rng.random()
    if r < EMPTY_PLACE_SHARE:
        return ""
    km = f"{rng.randint(1, 250)} km {rng.choice(DIRS)} of "
    if r < 0.55:
        city, state, code = rng.choice(US_PLACES)
        return f"{km}{city}, {state if rng.random() < 0.7 else code}"
    if r < 0.85:
        city, country = rng.choice(WORLD_PLACES)
        return f"{km if rng.random() < 0.8 else ''}{city}, {country}"
    return rng.choice(NO_COMMA_PLACES)


def _fmt(x: float, nd: int) -> str:
    # fixed decimals never print the bare '0' that staging coerces to NULL
    return f"{x:.{nd}f}"


def make_event(rng: random.Random, t: dt.datetime, malformed: bool = True) -> dict[str, str]:
    """One feed row (all strings, keyed by COLUMNS); `malformed=False`
    never plants an unparseable numeric."""
    etype = _weighted(rng, TYPE_MIX)
    net = rng.choice(NETS)
    mag = _gr_magnitude(rng)
    depth = 1.0 + rng.expovariate(1 / 12.0)
    if rng.random() < 0.03:
        depth = rng.uniform(70.0, 680.0)
    mag_err = rng.uniform(0.0, 0.45)
    depth_err = rng.uniform(0.0, 25.0)
    row = {
        "time": iso(t),
        "latitude": _fmt(rng.uniform(-60.0, 70.0), 4),
        "longitude": _fmt(rng.uniform(-179.9, 179.9), 4),
        "depth": _fmt(depth, 2),
        "mag": _fmt(mag, 2),
        "magType": rng.choice(MAG_TYPES),
        "nst": _opt(rng, 0.2, str(rng.randint(3, 300))),
        "gap": _opt(rng, 0.2, _fmt(rng.uniform(10.0, 350.0), 1)),
        "dmin": _opt(rng, 0.3, _fmt(rng.uniform(0.001, 15.0), 3)),
        "rms": _fmt(rng.uniform(0.01, 1.5), 2),
        "net": net,
        "id": net + "".join(rng.choices(string.ascii_lowercase + string.digits, k=9)),
        "updated": iso(t + dt.timedelta(seconds=rng.randint(60, 86_400))),
        "place": _place(rng),
        "type": etype,
        "horizontalError": _opt(rng, 0.25, _fmt(rng.uniform(0.1, 20.0), 2)),
        "depthError": _fmt(depth_err, 2),
        "magError": _opt(rng, 0.15, _fmt(mag_err, 3)),
        "magNst": _opt(rng, 0.25, str(rng.randint(1, 200))),
        "status": "reviewed" if rng.random() < 0.6 else "automatic",
        "locationSource": net,
        "magSource": net,
    }
    if etype == "earthquake" and rng.random() < REJECT_SHARE:
        gate = rng.randrange(4)
        if gate == 0:
            row["depth"] = _fmt(rng.uniform(0.01, 0.99), 2)
        elif gate == 1:
            row["magError"] = _fmt(rng.uniform(0.51, 1.5), 3)
        elif gate == 2:
            row["depthError"] = _fmt(rng.uniform(30.5, 60.0), 2)
        else:
            row["mag"] = _fmt(rng.uniform(-0.9, 0.99), 2)
    if rng.random() < MALFORMED_SHARE and malformed:
        row[rng.choice(["depth", "mag", "magError", "depthError"])] = "n/a"
    return row


def _times(rng: random.Random, start: dt.datetime, end: dt.datetime, n: int) -> list[dt.datetime]:
    span_ms = int((end - start).total_seconds() * 1000)
    return sorted(start + dt.timedelta(milliseconds=rng.randrange(span_ms)) for _ in range(n))


def month_events(rng: random.Random, year: int, month: int, n: int) -> list[dict[str, str]]:
    """`n` distinct events spread over one calendar month (UTC)."""
    start = dt.datetime(year, month, 1)
    end = dt.datetime(year + month // 12, month % 12 + 1, 1)
    return [make_event(rng, t) for t in _times(rng, start, end, n)]


def revise(rng: random.Random, row: dict[str, str]) -> dict[str, str]:
    """A re-send whose magnitude was revised (same time/lat/lon = same event)."""
    out = dict(row)
    try:
        out["mag"] = _fmt(float(row["mag"]) + rng.choice([-0.3, -0.1, 0.1, 0.2, 0.4]), 2)
    except ValueError:
        pass  # a malformed magnitude stays malformed
    out["updated"] = iso(dt.datetime.strptime(row["updated"], "%Y-%m-%dT%H:%M:%S.%fZ")
                         + dt.timedelta(hours=6))
    return out


@dataclass
class Delivery:
    name: str                    # all_day_YYYYmmdd-HHMMSS.csv
    run_ts: dt.datetime          # when the daily job runs
    rows: list[dict[str, str]]


def daily_deliveries(rng: random.Random, year: int, month: int, n_days: int,
                     per_day: int) -> list[Delivery]:
    """Rolling-window `all_day_*` files for the first `n_days` days of a month.

    Delivery d holds `per_day` new events from day d and re-sends
    RESEND_SHARE of delivery d-1 (REVISED_SHARE of those with a revised
    magnitude). Rows are unique by event within one file.
    """
    out: list[Delivery] = []
    prev: list[dict[str, str]] = []
    for d in range(n_days):
        day = dt.datetime(year, month, 1) + dt.timedelta(days=d)
        fresh = [make_event(rng, t) for t in _times(rng, day, day + dt.timedelta(days=1), per_day)]
        resent = [
            revise(rng, r) if rng.random() < REVISED_SHARE else dict(r)
            for r in prev if rng.random() < RESEND_SHARE
        ]
        rows = resent + fresh
        run_ts = day + dt.timedelta(days=1, hours=3)
        out.append(Delivery(f"all_day_{run_ts:%Y%m%d-%H%M%S}.csv", run_ts, rows))
        prev = fresh
    return out


def write_feed(path: str, rows: list[dict[str, str]]) -> None:
    """Write rows as a headered USGS CSV."""
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(COLUMNS)
        for r in rows:
            w.writerow([r[c] for c in COLUMNS])
