"""Seeded input rendering for the stream benchmark.

Rows come from the program's own traffic simulator: the batch reader of
the ``telco_traffic`` data source (``sources/simulator.py``), called
in-process rather than through a Spark job, so rendering costs no
Python-worker start-up.  Each row is shaped into the reference event
model exactly as ``as_celltower_events`` / ``as_attach_events`` shape
it and written as one compact JSON line, the shape ``to_json`` gives
(null fields left out); selftest.py checks that shape against the
program's adapters, so a change to the event model cannot leave the
inputs behind unnoticed.  The benchmark then owns three edits, all pure
functions of the seed and the row index (the simulator's ``_mix``):

* the bearer of 5% of celltower events is replaced by one the store
  never saw (dropped by the inner enrichment join);
* 1% of lines of both topics are malformed, half truncated (the
  trailing ``ts`` is always lost) and half with the ``bearerId`` key
  renamed, so the decode drops them;
* attach timestamps are strictly increasing across the whole run, so
  latest-wins per bearer has no ties and can be recomputed exactly.

Each file pair is one second of event time.  The store seed is one
attach event per known bearer ``bearer-0 .. bearer-(K-1)``.  The
geofence polygons are star-shaped and drawn from the same seed.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass

from botkop_telcotraffic_spark_spark.sources.simulator import TrafficDataSource, _mix

from workloads import MALFORMED_PCT, UNKNOWN_BEARER_PCT, Workload

T0_MS = 1_700_000_000_000  # event-time origin, a multiple of the 2 s slide
SEED_TS0_MS = T0_MS - 100_000_000  # seed attach rows are older than any run row
LAT0, LAT1, LNG0, LNG1 = 49.5, 51.5, 2.5, 6.4  # the simulator's bounding box
SALT_UNKNOWN, SALT_BAD, SALT_TRUNC = 0xB0, 0xBAD, 0x7C
FENCE_VERTICES = 7


@dataclass
class FileSpec:
    """One staged file pair: one second of both topics."""

    phase: str
    cell_path: str
    attach_path: str
    cell_lines: int
    attach_lines: int


@dataclass
class Inputs:
    seed_store: str  # JSONL of the store's seed attach events
    fences_path: str
    files: dict  # phase -> [FileSpec]


def segments(wl: Workload, open_files: int):
    """(phase, cell per file, attach per file, n files) in event-time
    order, which is the order the query reads them in: the open loop,
    then the drain file."""
    return [
        ("open", wl.open_cell, wl.open_attach, open_files),
        ("drain", wl.drain_cell, wl.drain_attach, 1),
    ]


def simulated(kind: str, rows: int, seed: int, bearers: int):
    """The simulator's rows 0..rows-1 (one partition, in order)."""
    ds = TrafficDataSource({
        "kind": kind, "rows": str(rows), "seed": str(seed), "bearers": str(bearers),
        "start_ts": "0", "step_ms": "1", "partitions": "1",
    })
    reader = ds.reader(None)
    for part in reader.partitions():
        yield from reader.read(part)


def celltower_event(row, bearer: str, ts: int) -> dict:
    """``as_celltower_events`` in Python."""
    _, mcc, mnc, cell, area, lat, lng, metrics, _ = row
    return {
        "celltower": {"mcc": mcc, "mnc": mnc, "cell": cell, "area": area,
                      "location": {"lat": lat, "lng": lng}},
        "bearerId": bearer,
        "metrics": metrics,
        "topic": "celltower-topic",
        "ts": ts,
    }


def attach_event(row, bearer: str, ts: int) -> dict:
    """``as_attach_events`` in Python (address and zip are null)."""
    _, sub, imsi, msisdn, imei, last, first, city, country, _ = row
    return {
        "bearerId": bearer,
        "subscriber": {"id": sub, "imsi": imsi, "msisdn": msisdn, "imei": imei,
                       "lastName": last, "firstName": first, "city": city,
                       "country": country},
        "topic": "attach-topic",
        "ts": ts,
    }


def render_line(ev: dict, seed: int, salt: int, i: int) -> str:
    """The JSON line for event i of one topic, malformed for 1% of i."""
    line = json.dumps(ev, separators=(",", ":"))
    if _mix(seed, salt, SALT_BAD, i) % 100 >= MALFORMED_PCT:
        return line
    if _mix(seed, salt, SALT_TRUNC, i) % 2:
        return line[: len(line) // 2]
    return line.replace('"bearerId":', '"bearer_id":', 1)


def _celltower_files(wl: Workload, seed: int, segs) -> list[list[str]]:
    """The celltower lines of each file, in event-time order."""
    out = []
    rows = simulated("celltower", sum(s[1] * s[3] for s in segs), seed * 1000 + 11,
                     wl.store_keys)
    i = g = 0
    for _, per, _, nfiles in segs:
        for _ in range(nfiles):
            lines = []
            for k in range(per):
                row = next(rows)
                unknown = _mix(seed, SALT_UNKNOWN, i) % 100 < UNKNOWN_BEARER_PCT
                bearer = f"unknown-{i}" if unknown else row[0]
                # file g covers [T0 + g s, T0 + (g+1) s), its rows evenly spaced
                ts = T0_MS + g * 1000 + k * 1000 // per
                lines.append(render_line(celltower_event(row, bearer, ts), seed, 11, i))
                i += 1
            out.append(lines)
            g += 1
    return out


def _attach_files(wl: Workload, seed: int, segs) -> list[list[str]]:
    """The attach lines of each file, in event-time order."""
    out = []
    rows = simulated("attach", sum(s[2] * s[3] for s in segs), seed * 1000 + 23,
                     wl.store_keys)
    i = 0
    for _, _, per, nfiles in segs:
        for _ in range(nfiles):
            lines = []
            for _ in range(per):
                row = next(rows)
                # strictly increasing ts (1 ms apart): latest-wins never ties
                lines.append(render_line(attach_event(row, row[0], T0_MS + i), seed, 23, i))
                i += 1
            out.append(lines)
    return out


def fences(seed: int, count: int) -> list[dict]:
    """Star-shaped polygons inside the simulator's box, in the
    reference's ``traffic-geofences.json`` shape.  Every fence has
    ``FENCE_VERTICES`` vertices, so the polygon test costs the same
    on every seed."""
    rng = random.Random(seed * 7919 + count)
    out = []
    for i in range(count):
        clat = rng.uniform(LAT0 + 0.3, LAT1 - 0.3)
        clng = rng.uniform(LNG0 + 0.3, LNG1 - 0.3)
        r = rng.uniform(0.15, 0.25)
        angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(FENCE_VERTICES))
        poly = []
        for a in angles:
            rr = r * rng.uniform(0.5, 1.0)
            poly.append(
                {"lat": round(clat + rr * math.sin(a), 6), "lng": round(clng + rr * math.cos(a), 6)}
            )
        out.append({"name": f"fence-{i}", "path": f"/geofences/{i}", "polygon": poly})
    return out


def _write(path: str, lines) -> None:
    with open(path, "w") as fh:
        for line in lines:
            fh.write(line)
            fh.write("\n")


def render(wl: Workload, seed: int, root: str, open_files: int) -> Inputs:
    """Write every input of one run under ``root`` (staged, not yet
    visible to any query) and return where they are."""
    segs = segments(wl, open_files)
    os.makedirs(root, exist_ok=True)
    seed_store = os.path.join(root, "seed_attach.jsonl")
    _write(seed_store, (
        json.dumps(attach_event(row, f"bearer-{i}", SEED_TS0_MS + i), separators=(",", ":"))
        for i, row in enumerate(simulated("attach", wl.store_keys, seed * 1000 + 37,
                                          wl.store_keys))
    ))
    fences_path = os.path.join(root, "fences.json")
    with open(fences_path, "w") as fh:
        json.dump(fences(seed, wl.fences), fh)

    cells, attach = _celltower_files(wl, seed, segs), _attach_files(wl, seed, segs)
    files: dict[str, list[FileSpec]] = {}
    g = 0
    for phase, _, _, nfiles in segs:
        specs = []
        for i in range(nfiles):
            paths = {}
            for topic, lines in (("cell", cells[g]), ("attach", attach[g])):
                stage = os.path.join(root, "stage", phase, topic)
                os.makedirs(stage, exist_ok=True)
                paths[topic] = os.path.join(stage, f"{phase}-{i:05d}.jsonl")
                _write(paths[topic], lines)
            specs.append(FileSpec(phase, paths["cell"], paths["attach"],
                                  len(cells[g]), len(attach[g])))
            g += 1
        files[phase] = specs
    return Inputs(seed_store=seed_store, fences_path=fences_path, files=files)
