"""Seeded generator of the three city-mood topics.

Writes the reference wire format (one JSON object per line, the fields
of ``schemas.TRAFFIC_SCHEMA`` / ``WEATHER_SCHEMA`` / ``NEWS_SCHEMA``)
into one directory per topic. Topic file ``k`` of every topic holds
event-minute ``k``, so a file-stream source read with
``maxFilesPerTrigger=1`` takes exactly one minute of every topic per
trigger, and trigger boundaries, watermark and output repeat exactly.

A share ``LATE_SHARE`` of the events is stamped up to ``MAX_LATE_S``
seconds before its minute, and every file is shuffled: the input is out
of order but stays inside the pipeline's 2-minute watermark, so no row
may be dropped.

The generator is single-process and uses only ``random.Random(seed)``:
the same seed and shape give byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

TOPICS = ("traffic", "weather", "news")
T0 = datetime(2026, 1, 5, 8, 0, 0)
WATERMARK_S = 120
WEATHER_PER_MINUTE = 2
NEWS_PER_MINUTE = 2
LATE_SHARE = 0.05
MAX_LATE_S = 60
# An old fixed mtime: file sources order files by modification time,
# so mtimes set one second apart fix the order in which files are read.
MTIME0 = 1_700_000_000

RELAXING = ["clear", "mainly_clear", "partly_cloudy"]
STRESSFUL = [
    "overcast", "fog", "depositing_rime_fog", "drizzle_light", "drizzle_moderate",
    "drizzle_dense", "rain_slight", "rain_moderate", "rain_heavy", "snow_slight",
    "snow_moderate", "snow_heavy", "rain_showers_slight", "rain_showers_moderate",
    "rain_showers_heavy", "snow_showers_slight", "snow_showers_heavy",
    "thunderstorm", "thunderstorm_with_hail",
]
NEWS = [
    ("City council approves new park.", "positive"),
    ("Local team wins the championship.", "positive"),
    ("Road works continue on the main avenue.", "neutral"),
    ("Museum extends its opening hours.", "neutral"),
    ("Accident reported near the central intersection.", "negative"),
]
NEWS_WEIGHTS = [0.25, 0.25, 0.22, 0.22, 0.06]
REF_INTERSECTIONS = ["north_avenue", "mashtots", "komitas", "tumanyan"]


@dataclass(frozen=True)
class Shape:
    """Input size of one stream replay."""

    keys: int
    minutes: int
    traffic_per_minute: int
    zipf_s: float = 0.0  # 0 means uniform over the keys

    def intersections(self) -> list[str]:
        if self.keys == len(REF_INTERSECTIONS):
            return list(REF_INTERSECTIONS)
        return [f"x{i:05d}" for i in range(self.keys)]


def _stamp(rng: random.Random, minute: int) -> tuple[datetime, bool]:
    t = T0 + timedelta(minutes=minute, seconds=rng.randrange(60))
    if rng.random() < LATE_SHARE:
        return t - timedelta(seconds=rng.randint(1, MAX_LATE_S)), True
    return t, False


def _fmt(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def write_topics(out_dir: str, shape: Shape, seed: int) -> dict:
    """Write ``shape.minutes`` files per topic under ``out_dir/<topic>/``.

    Returns the counts the benchmark reports and the output check needs:
    events per topic, late events, the largest lateness behind the
    newest event seen before it, and the newest event time.
    """
    rng = random.Random(seed)
    keys = shape.intersections()
    # rank r (0-based) has Zipf weight 1/(r+1)^s; the key order is fixed,
    # so every seed has the same hot keys and the same skew
    weights = [1.0 / (r + 1) ** shape.zipf_s for r in range(len(keys))] if shape.zipf_s else None
    codes = RELAXING + STRESSFUL
    code_w = [0.5 / len(RELAXING)] * len(RELAXING) + [0.5 / len(STRESSFUL)] * len(STRESSFUL)
    counts = {t: 0 for t in TOPICS}
    late = 0
    newest = T0
    max_behind_s = 0
    for t in TOPICS:
        os.makedirs(os.path.join(out_dir, t), exist_ok=True)
    for m in range(shape.minutes):
        newest_before = newest
        files: dict[str, list[str]] = {t: [] for t in TOPICS}
        stamps: list[tuple[datetime, bool]] = []
        for key in rng.choices(keys, weights=weights, k=shape.traffic_per_minute):
            ts = _stamp(rng, m)
            stamps.append(ts)
            files["traffic"].append(json.dumps({
                "intersection": key,
                "vehicle_id": f"veh-{rng.randrange(1000, 10000)}",
                "speed": round(rng.uniform(10.0, 90.0), 2),
                "timestamp": _fmt(ts[0]),
            }))
        for _ in range(WEATHER_PER_MINUTE):
            ts = _stamp(rng, m)
            stamps.append(ts)
            files["weather"].append(json.dumps({
                "timestamp": _fmt(ts[0]),
                "temp": round(rng.uniform(-5.0, 35.0), 1),
                "windspeed": round(rng.uniform(0.0, 30.0), 1),
                "weather": rng.choices(codes, weights=code_w)[0],
            }))
        for _ in range(NEWS_PER_MINUTE):
            ts = _stamp(rng, m)
            stamps.append(ts)
            headline, sentiment = rng.choices(NEWS, weights=NEWS_WEIGHTS)[0]
            files["news"].append(json.dumps({
                "timestamp": _fmt(ts[0]),
                "headline": headline,
                "sentiment": sentiment,
            }))
        for ts, is_late in stamps:
            late += is_late
            newest = max(newest, ts)
            max_behind_s = max(max_behind_s, int((newest_before - ts).total_seconds()))
        for t in TOPICS:
            lines = files[t]
            rng.shuffle(lines)
            counts[t] += len(lines)
            path = os.path.join(out_dir, t, f"part-{m:05d}.json")
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.utime(path, (MTIME0 + m, MTIME0 + m))
    return {
        "events": counts,
        "late_events": late,
        "max_behind_s": max_behind_s,
        "newest": _fmt(newest),
    }
