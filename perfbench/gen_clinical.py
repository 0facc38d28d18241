"""Seeded clinical CSV generator with ground truth (standard library only).

Every file is a function of ``(seed, name, kind, rows)``: the same arguments
give the same bytes. Valid files plant the reference's edge cases at fixed
shares: valid and malformed ``S/D`` blood pressure, slash-less readings,
out-of-range components, blank required units, out-of-range numbers,
non-numeric values, ``""``/``"null"`` quality scores, padded units and
within-file duplicate natural keys. Invalid files carry one offending row
(a blank ``study_id`` or an out-of-range ``quality_score``) and must end
``failed`` with nothing written.

Participants are unique to a file (``<tag>-<k>``), so natural keys never
collide across files and every table's expected size is a sum over files.
"""

from __future__ import annotations

import csv
import io
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

HEADER = (
    "study_id",
    "participant_id",
    "measurement_type",
    "value",
    "unit",
    "timestamp",
    "site_id",
    "quality_score",
)

STUDIES = tuple(f"STUDY{n:03d}" for n in range(1, 9))
SITES = tuple(f"SITE_{c}" for c in "ABCDEF")

#: type -> (unit, low, high, decimals) for in-range numeric readings.
NUMERIC = {
    "glucose": ("mg/dL", 70, 180, 1),
    "cholesterol": ("mg/dL", 120, 280, 0),
    "weight": ("kg", 45, 120, 1),
    "height": ("cm", 150, 200, 1),
    "heart_rate": ("bpm", 50, 110, 0),
}
TYPES = (*NUMERIC, "blood_pressure")

# Mirrors of the pipeline's rules (functions/clinical.py), used only to
# derive the expected outputs.
REQ_UNIT = frozenset(("glucose", "cholesterol", "weight", "height", "blood_pressure"))
RANGES = {
    "glucose": (40.0, 400.0),
    "cholesterol": (50.0, 400.0),
    "weight": (1.0, 400.0),
    "height": (30.0, 300.0),
    "heart_rate": (20.0, 240.0),
}
RULES = ("missing_unit_required", "malformed_blood_pressure", "numeric_out_of_range")

_INT = re.compile(r"^[+-]?[0-9]+$")
_DEC = re.compile(r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)$")
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def bp_parts(value: str) -> tuple[int, int] | None:
    """``(systolic, diastolic)`` when ``value`` is a valid ``S/D`` reading."""
    parts = value.split("/")
    if len(parts) != 2 or not all(_INT.match(p.strip()) for p in parts):
        return None
    s, d = (int(p.strip()) for p in parts)
    return (s, d) if 50 <= s <= 250 and 30 <= d <= 200 else None


def as_number(value: str) -> float | None:
    v = value.strip()
    return float(v) if _DEC.match(v) else None


@dataclass
class FileTruth:
    """What the pipeline must produce for one file."""

    name: str
    kind: str  # "valid" | "blank_study" | "bad_quality"
    rows: int
    #: Terminal status the job must reach.
    status: str
    #: (lead study, first participant, first timestamp): slice parameters
    #: a client would take from its own upload.
    probe: tuple[str, str, datetime] | None = None
    #: (study, participant, type, timestamp) per bronze row, file order.
    bronze: list[tuple[str, str, str, datetime]] = field(default_factory=list)
    #: Deduplicated silver observations:
    #: (study, participant, site, type, measured_at, is_numeric, quality).
    silver: list[tuple] = field(default_factory=list)
    #: Distinct (study, participant, site, type) groups with a number.
    gold: set[tuple[str, str, str, str]] = field(default_factory=set)
    quality: dict[str, int] = field(default_factory=dict)
    participants: set[tuple[str, str]] = field(default_factory=set)
    studies: set[str] = field(default_factory=set)


def _row(rng: random.Random, participant, study, site, ts, tag):
    """One reading; ``tag`` picks the planted case."""
    mtype = rng.choice(TYPES)
    if mtype == "blood_pressure":
        unit = "mmHg"
        value = f"{rng.randint(95, 160)}/{rng.randint(55, 100)}"
        if tag == "bp_slashless":
            value = str(rng.randint(95, 160))
        elif tag == "bp_malformed":
            value = f"{rng.randint(95, 160)}-{rng.randint(55, 100)}"
        elif tag == "bp_out_of_range":
            value = f"{rng.randint(260, 320)}/{rng.randint(55, 100)}"
    else:
        unit, lo, hi, dec = NUMERIC[mtype]
        value = f"{rng.uniform(lo, hi):.{dec}f}"
        if tag == "out_of_range":
            value = f"{hi * 5 + rng.randint(1, 99)}"
        elif tag == "non_numeric":
            value = rng.choice(("n/a", "pending", "see note"))
    if tag == "missing_unit":
        unit = ""
    elif tag == "padded_unit":
        unit = f"  {unit} "
    q = rng.random()
    quality = "" if q < 0.05 else "null" if q < 0.08 else f"{rng.uniform(0.6, 1.0):.2f}"
    return [study, participant, mtype, value, unit, ts, site, quality]


#: Planted cases and their shares among a valid file's rows.
_TAGS = (
    ("bp_slashless", 0.01),
    ("bp_malformed", 0.01),
    ("bp_out_of_range", 0.01),
    ("missing_unit", 0.02),
    ("out_of_range", 0.01),
    ("non_numeric", 0.01),
    ("padded_unit", 0.03),
    ("duplicate", 0.01),
)


def make_file(seed: int, name: str, rows: int, kind: str = "valid") -> tuple[bytes, FileTruth]:
    """CSV bytes plus ground truth for one upload."""
    rng = random.Random(f"{seed}:{name}:{kind}:{rows}")
    n_part = max(4, rows // 40)
    lead = rng.choice(STUDIES)
    other = rng.choice([s for s in STUDIES if s != lead])
    people = [
        (f"{name}-P{k:03d}", lead if rng.random() < 0.85 else other, rng.choice(SITES))
        for k in range(n_part)
    ]
    start = _EPOCH + timedelta(days=rng.randrange(0, 300))
    out: list[list[str]] = []
    for i in range(rows):
        r = rng.random()
        tag = None
        for t, share in _TAGS:
            if r < share:
                tag = t
                break
            r -= share
        if tag == "duplicate" and out:
            out.append(list(rng.choice(out)))
            continue
        pid, study, site = rng.choice(people)
        ts = (start + timedelta(minutes=i)).strftime("%Y-%m-%dT%H:%M:%SZ")
        out.append(_row(rng, pid, study, site, ts, tag))
    probe = (lead, people[0][0], start)
    if kind == "blank_study":
        out[rng.randrange(rows)][0] = rng.choice(("", "  "))
    elif kind == "bad_quality":
        out[rng.randrange(rows)][7] = rng.choice(("1.7", "-0.2", "high"))
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    w.writerows(out)
    truth = _truth(name, kind, out)
    truth.probe = probe
    return buf.getvalue().encode(), truth


def _truth(name: str, kind: str, rows: list[list[str]]) -> FileTruth:
    t = FileTruth(name=name, kind=kind, rows=len(rows),
                  status="completed" if kind == "valid" else "failed")
    if kind != "valid":
        return t
    t.quality = dict.fromkeys(RULES, 0)
    seen: set[tuple] = set()
    for study, pid, mtype, value, unit, ts, site, quality in rows:
        when = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
        t.bronze.append((study, pid, mtype, when))
        t.participants.add((study, pid))
        t.studies.add(study)
        num = as_number(value)
        bp = bp_parts(value) if mtype == "blood_pressure" else None
        if mtype in REQ_UNIT and unit.strip() == "":
            t.quality["missing_unit_required"] += 1
        if mtype == "blood_pressure" and bp is None:
            t.quality["malformed_blood_pressure"] += 1
        if mtype in RANGES and num is not None and not RANGES[mtype][0] <= num <= RANGES[mtype][1]:
            t.quality["numeric_out_of_range"] += 1
        q = None if quality in ("", "null") else float(quality)
        obs = (
            [("blood_pressure_systolic", True), ("blood_pressure_diastolic", True)]
            if bp
            else [(mtype, num is not None)]
        )
        for otype, numeric in obs:
            if numeric:
                t.gold.add((study, pid, site, otype))
            key = (study, pid, otype, when, site)
            if key not in seen:
                seen.add(key)
                t.silver.append((study, pid, site, otype, when, numeric, q))
    t.quality = {k: v for k, v in t.quality.items() if v}
    return t


def kind_of(i: int, invalid_every: int) -> str:
    """Kind of the ``i``-th upload: every ``invalid_every``-th is invalid,
    starting with the second, alternating the two failure causes."""
    if i % invalid_every != 1:
        return "valid"
    return "blank_study" if (i // invalid_every) % 2 == 0 else "bad_quality"
