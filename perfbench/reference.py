"""Independent expected outputs, computed in plain Python from the generated rows.

Nothing here imports the package under test: each rule the pipeline
applies (staging null coercion, the quality gate, the malformed-numeric
drop, event identity, place parsing, banding, the delta anti-join and the
12 DAX measures) is re-stated from its documented semantics, so a
mismatch between this model and the warehouse is a real finding.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from zoneinfo import ZoneInfo

from gen import US_PLACES

LOCAL_TZ = ZoneInfo("Europe/Bucharest")
STATES = {name: name for _c, name, _a in US_PLACES} | {a: name for _c, name, a in US_PLACES}
COUNTED_TYPES = [
    "earthquake", "explosion", "ice quake", "landslide", "quarry blast",
    "sonic boom", "volcanic eruption",
]
_OF = re.compile(r"(?i)of\s+(.+)$")
REL_TOL = 1e-9


def _coerce(v: str) -> str | None:
    """Staging null coercion: trim, then '' and '0' become NULL."""
    v = v.strip(" ")
    return None if v in ("", "0") else v


def _num(v: str | None) -> float | None:
    if v is None or v.strip(" ") in ("", "null"):
        return None
    try:
        return float(v)
    except ValueError:
        return None


def _label(v: str | None) -> str | None:
    if v is None:
        return None
    v = v.strip(" ")
    return None if v in ("", "null") else v


def staged(row: dict[str, str]) -> dict[str, str | None] | None:
    """The row as staging keeps it, or None if the quality gate drops it."""
    r = {k: _coerce(v) for k, v in row.items()}
    gate = ("depth", "mag", "magError", "depthError")
    if any(r[c] is not None and _num(r[c]) is None for c in gate):
        return None  # malformed numeric: neither accepted nor rejected

    def z(c: str) -> float:
        return _num(r[c]) or 0.0

    if r["type"] == "earthquake" and (
        z("depth") < 1 or z("magError") > 0.5 or z("depthError") > 30 or z("mag") < 1
    ):
        return None
    return r


def local_time(iso_utc: str) -> str:
    t = dt.datetime.strptime(iso_utc, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return t.astimezone(LOCAL_TZ).strftime("%Y-%m-%d %H:%M:%S")


def _adjust(base: float | None, err: float | None) -> float | None:
    return base + 0.5 * err if base is not None and err is not None else base


def _mag_band(m: float | None) -> str | None:
    if m is None:
        return None
    for edge, name in ((3, "Not Felt"), (4, "Minor"), (5, "Light"), (6, "Moderate"),
                       (7, "Strong"), (8, "Major")):
        if m < edge:
            return name
    return "Great"


def _depth_band(d: float | None) -> str | None:
    if d is None:
        return None
    return "Shallow" if d <= 70 else "Intermediate" if d <= 300 else "Deep"


def region_country(place: str | None) -> tuple[str | None, str | None]:
    if place is None:
        return None, None
    if "," not in place:
        return place.strip(" "), None
    left, right = (s.strip(" ") for s in place.rsplit(",", 1))
    if right in STATES:
        return STATES[right], "USA"
    m = _OF.search(left)
    return (m.group(1) if m and m.group(1) else left), right


def fact_row(r: dict[str, str | None], run_ts: dt.datetime) -> dict:
    """The fact-side view of one accepted staged row."""
    local = local_time(r["time"])
    n_mag = _adjust(_num(r["mag"]), _num(r["magError"]))
    n_depth = _adjust(_num(r["depth"]), _num(r["depthError"]))
    place = _label(r["place"])
    return {
        "key": "_".join(v for v in (local, r["latitude"], r["longitude"]) if v is not None),
        "type": _label(r["type"]),
        "net": _label(r["net"]),
        "place": region_country(place),
        "n_mag": n_mag,
        "n_depth": n_depth,
        "mag_cat": _mag_band(n_mag),
        "depth_cat": _depth_band(n_depth),
        "date": local[:10],
        "inserted": run_ts,
    }


class Warehouse:
    """Expected warehouse state across a full load and daily deltas."""

    def __init__(self) -> None:
        self.fact: dict[str, dict] = {}

    def load(self, rows: list[dict[str, str]], run_ts: dt.datetime, full: bool) -> int:
        """Apply one load; returns the number of fact rows it adds."""
        if full:
            self.fact = {}
        added = 0
        for row in rows:
            r = staged(row)
            if r is None:
                continue
            f = fact_row(r, run_ts)
            if f["key"] in self.fact:
                if full:
                    raise ValueError(f"generated month repeats event {f['key']}")
                continue  # the first accepted version of an event wins
            self.fact[f["key"]] = f
            added += 1
        return added

    def dims(self) -> dict[str, int]:
        rows = self.fact.values()

        def n(col: str) -> int:
            return len({f[col] for f in rows})

        return {
            "T_DIM_Network": n("net"),
            "T_DIM_RegionCountry": n("place"),
            "T_DIM_Seismic_Activity_Type": n("type"),
            "T_DIM_magCategory": n("mag_cat"),
            "T_DIM_depthCategory": n("depth_cat"),
            "T_DIM_date": n("date"),
            "T_FACT_Events": len(self.fact),
        }

    def measures(self) -> dict:
        """The `measures` CLI output shape (12 DAX measures)."""
        rows = list(self.fact.values())
        quakes = [f for f in rows if f["type"] == "earthquake"]
        mags = [f["n_mag"] for f in quakes if f["n_mag"] is not None]
        depths = [f["n_depth"] for f in quakes if f["n_depth"] is not None]
        totals: dict[str, int] = {}
        for f in rows:
            if f["type"] in COUNTED_TYPES:
                totals[f["type"]] = totals.get(f["type"], 0) + 1
        return {
            "latest_daily_update": str(max(f["inserted"] for f in rows)) if rows else "None",
            "avg_earthquake_magnitude": math.fsum(mags) / len(mags) if mags else None,
            "max_earthquake_depth": max(depths, default=None),
            "max_earthquake_magnitude": max(mags, default=None),
            "totals_by_type": totals,
            "total_seismic_events": len(rows),
        }


def mismatches(got: dict, want: dict, prefix: str = "") -> list[str]:
    """Field-by-field comparison; floats agree to a relative 1e-9."""
    out = []
    for k in sorted(set(got) | set(want)):
        g, w = got.get(k), want.get(k)
        if isinstance(g, dict) and isinstance(w, dict):
            out += mismatches(g, w, f"{prefix}{k}.")
        elif isinstance(g, float) or isinstance(w, float):
            if g is None or w is None or not math.isclose(g, w, rel_tol=REL_TOL, abs_tol=1e-12):
                out.append(f"{prefix}{k}: got {g!r}, want {w!r}")
        elif g != w:
            out.append(f"{prefix}{k}: got {g!r}, want {w!r}")
    return out


class Stream:
    """Expected streamed table and quarantine after each round."""

    def __init__(self, accepted_types: list[str], mag_range: tuple[float, float]) -> None:
        self.accepted_types = set(accepted_types)
        self.lo, self.hi = mag_range
        self.clean_ids: set[str] = set()
        self.quarantined = 0
        self.batches = 0

    def violates(self, row: dict[str, str]) -> bool:
        mag = _num(row["mag"])
        t = row["type"] or None
        return (mag is None or not self.lo <= mag <= self.hi
                or (t is not None and t not in self.accepted_types))

    def round(self, rows: list[dict[str, str]]) -> None:
        fresh = {}
        for r in rows:
            fresh.setdefault(r["id"], r)  # within-batch dedup by id
        seen_before = self.clean_ids.copy()
        for rid, r in fresh.items():
            if rid in seen_before:
                continue  # re-send of an already-merged event
            if self.violates(r):
                self.quarantined += 1
            else:
                self.clean_ids.add(rid)
        self.batches += 1
