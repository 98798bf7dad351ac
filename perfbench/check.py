"""Independent recomputation of every micro-batch's four topics.

Which files each batch read comes from the file sources' own logs in
the query checkpoints.  The inputs are decoded again here with
``json`` (a line counts only when it parses and every top-level field
of the event is present), the attach store is replayed latest-wins
from the seed rows, and then:

* both stats topics are recomputed in DuckDB (15 sliding windows per
  event, count / mean / population stdev / max / min).  Per batch,
  entity and metric the multiset of window stats must match: counts
  exactly, the rendered ``%f`` values to their last printed digit;
* the geofence topic is recomputed with a NumPy ray cast that repeats
  the per-edge arithmetic of ``point_in_polygon_literal``;
* the outliers topic (one points message per batch) must hold every enriched point exactly once, with
  ``prediction`` in [0, k), ``distance`` equal to the norm of
  ``point - centroid`` and the ``outlier`` flag equal to the
  per-cluster IQR fences recomputed from the message itself.

``check_run`` returns a list of human-readable mismatches (empty when
the outputs are right) and the per-batch counts it derived.
"""

from __future__ import annotations

import glob
import json
import math
import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

WINDOW_MS, SLIDE_MS = 30_000, 2_000
DOUBLE_MAX = 1.7976931348623157e308
TOL = 1e-6  # one unit of the payload's 6th decimal

CELL_FIELDS = ("celltower", "bearerId", "metrics", "topic", "ts")
ATTACH_FIELDS = ("bearerId", "subscriber", "topic", "ts")
SUB_KEYS = ("id", "imsi", "msisdn", "imei", "lastName", "firstName", "city", "country")


def batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> input file paths, from the file sources' logs."""
    out: dict[int, list[str]] = {}
    for log in sorted(glob.glob(os.path.join(checkpoint, "sources", "*", "*"))):
        if log.endswith(".tmp") or os.path.basename(log).startswith("."):
            continue
        with open(log) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                path = entry["path"]
                if path.startswith("file:"):
                    path = path[len("file:"):].lstrip("/")
                    path = "/" + path
                files = out.setdefault(int(entry["batchId"]), [])
                if path not in files:
                    files.append(path)
    return out


def decode(path: str, fields: tuple[str, ...]) -> list[dict]:
    rows = []
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            if isinstance(ev, dict) and all(ev.get(f) is not None for f in fields):
                rows.append(ev)
    return rows


def _cell_key(c: dict) -> tuple:
    loc = c["location"]
    return (c["mcc"], c["mnc"], c["cell"], c["area"], float(loc["lat"]), float(loc["lng"]))


def _sub_key(s: dict) -> tuple:
    return tuple(s.get(k) for k in SUB_KEYS)


def seed_store(path: str) -> dict[str, tuple[int, dict]]:
    """bearer -> (ts, subscriber), latest-wins over the seed events."""
    store: dict[str, tuple[int, dict]] = {}
    for a in decode(path, ATTACH_FIELDS):
        cur = store.get(a["bearerId"])
        if cur is None or a["ts"] > cur[0]:
            store[a["bearerId"]] = (a["ts"], a["subscriber"])
    return store


def enrich_batches(phases, store: dict, layout) -> dict:
    """Replay every batch in execution order.

    ``phases``: [(phase, {batch id: [file paths]})].  Returns
    {(phase, batch): {"cells": n decoded, "attach": n decoded,
    "enriched": [(sub, cell, metrics, ts)]}}."""
    out = {}
    for phase, batches in phases:
        for bid in sorted(batches):
            files = batches[bid]
            cells, attach = [], []
            for f in files:
                kind = layout(f)
                if kind == "attach":
                    attach.extend(decode(f, ATTACH_FIELDS))
                elif kind == "cell":
                    cells.extend(decode(f, CELL_FIELDS))
            for a in attach:
                cur = store.get(a["bearerId"])
                if cur is None or a["ts"] > cur[0]:
                    store[a["bearerId"]] = (a["ts"], a["subscriber"])
            enriched = [
                (store[c["bearerId"]][1], c["celltower"], c["metrics"], c["ts"])
                for c in cells
                if c["bearerId"] in store
            ]
            out[(phase, bid)] = {"cells": len(cells), "attach": len(attach), "enriched": enriched}
    return out


def _expected_frame(batches: dict) -> pd.DataFrame:
    rows = []
    for (phase, bid), b in batches.items():
        for sub, cell, metrics, ts in b["enriched"]:
            ck, sk = _cell_key(cell), _sub_key(sub)
            for m, v in metrics.items():
                rows.append((phase, bid, *ck, *sk, m, float(v), int(ts)))
    cols = ["phase", "batch", "mcc", "mnc", "cell", "area", "lat", "lng",
            *[f"s_{k}" for k in SUB_KEYS], "metric", "value", "ts"]
    return pd.DataFrame(rows, columns=cols)


_ENTITY = {
    "celltower": ["mcc", "mnc", "cell", "area", "lat", "lng"],
    "subscriber": [f"s_{k}" for k in SUB_KEYS],
}


def _actual_stats_sql(files: str, entity: str) -> str:
    if entity == "celltower":
        ent = """
            CAST(json_extract(v, '$.celltower.mcc') AS INTEGER) AS mcc,
            CAST(json_extract(v, '$.celltower.mnc') AS INTEGER) AS mnc,
            CAST(json_extract(v, '$.celltower.cell') AS INTEGER) AS cell,
            CAST(json_extract(v, '$.celltower.area') AS INTEGER) AS area,
            CAST(json_extract(v, '$.celltower.location.lat') AS DOUBLE) AS lat,
            CAST(json_extract(v, '$.celltower.location.lng') AS DOUBLE) AS lng"""
    else:
        ent = ",\n".join(
            f"json_extract_string(v, '$.subscriber.{k}') AS s_{k}"
            if k != "id"
            else "CAST(json_extract(v, '$.subscriber.id') AS INTEGER) AS s_id"
            for k in SUB_KEYS
        )
    stats_type = (
        '{"stats": "MAP(VARCHAR, STRUCT(count BIGINT, mean DOUBLE, stdev DOUBLE, '
        'max DOUBLE, min DOUBLE))"}'
    )
    return f"""
        WITH msgs AS (
            SELECT regexp_extract(filename, '/out/([^/]+)/', 1) AS phase,
                   CAST(_batch_id AS INTEGER) AS batch, value AS v
            FROM read_parquet({files}, hive_partitioning = true, filename = true)
        ), parsed AS (
            SELECT phase, batch, {ent},
                   json_transform(v, '{stats_type}').stats AS stats
            FROM msgs
        ), flat AS (
            SELECT * EXCLUDE (stats, kv), kv.key AS metric, kv.value AS s
            FROM (SELECT *, unnest(map_entries(stats)) AS kv FROM parsed)
        )
        SELECT * EXCLUDE (s), s.count AS n, s.mean AS mean, s.stdev AS stdev,
               s.max AS vmax, s.min AS vmin
        FROM flat"""


def _outputs(out_root: str, phases, topic: str) -> str:
    """DuckDB list literal of the topic's parquet files in ``phases``."""
    globs = [os.path.join(out_root, p, topic, "*", "*.parquet") for p in phases]
    return "[" + ", ".join(f"'{g}'" for g in globs if glob.glob(g)) + "]"


def _compare_stats(con, out_root: str, phases, entity: str, topic: str) -> list[str]:
    keys = ["phase", "batch", *_ENTITY[entity], "metric"]
    k = ", ".join(keys)
    expected = f"""
        SELECT {k}, count(*) AS n, avg(value) AS mean, stddev_pop(value) AS stdev,
               max(value) AS vmax, min(value) AS vmin
        FROM (SELECT *, ts - (ts % {SLIDE_MS}) - w.range * {SLIDE_MS} AS ws
              FROM expected, range({WINDOW_MS // SLIDE_MS}) w)
        GROUP BY {k}, ws"""
    files = _outputs(out_root, phases, topic)
    if files == "[]":
        return [f"{topic}: no messages written"]
    actual = _actual_stats_sql(files, entity)
    order = "n, vmax, vmin, mean, stdev"
    join_on = " AND ".join(f"e.{c} IS NOT DISTINCT FROM a.{c}" for c in keys + ["rn"])
    sql = f"""
        WITH e AS (SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY {order}) AS rn
                   FROM ({expected})),
             a AS (SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY {order}) AS rn
                   FROM ({actual}))
        SELECT e.phase, e.batch, a.phase, a.batch, e.metric, a.metric,
               e.n, a.n, e.mean, a.mean, e.stdev, a.stdev, e.vmax, a.vmax, e.vmin, a.vmin
        FROM e FULL OUTER JOIN a ON {join_on}
        WHERE e.n IS NULL OR a.n IS NULL OR e.n <> a.n
           OR abs(e.mean - a.mean) > {TOL} OR abs(e.stdev - a.stdev) > {TOL}
           OR abs(e.vmax - a.vmax) > {TOL} OR abs(e.vmin - a.vmin) > {TOL}
        LIMIT 5"""
    bad = con.execute(sql).fetchall()
    total = con.execute(f"SELECT count(*) FROM ({actual})").fetchone()[0]
    if bad:
        return [f"{topic}: window stats differ, e.g. {row}" for row in bad]
    if total == 0:
        return [f"{topic}: no messages written"]
    return []


def fence_hits(lats: np.ndarray, lngs: np.ndarray, fences: list[dict]) -> list[list[str]]:
    """Per point, the names of the fences containing it (fence order).
    Same arithmetic as point_in_polygon_literal: x = lng, y = lat."""
    hits: list[list[str]] = [[] for _ in range(len(lats))]
    px, py = lngs, lats
    for fence in fences:
        verts = [(float(p["lng"]), float(p["lat"])) for p in fence["polygon"]]
        xs, ys = [v[0] for v in verts], [v[1] for v in verts]
        cand = np.nonzero(
            (px >= min(xs)) & (px <= max(xs)) & (py >= min(ys)) & (py <= max(ys))
        )[0]
        if cand.size == 0:
            continue
        cx, cy = px[cand], py[cand]
        crossings = np.zeros(cand.size, dtype=np.int64)
        n = len(verts)
        for i in range(n):
            xi, yi = verts[i]
            xj, yj = verts[(i + 1) % n]
            if yi == yj:
                continue
            term = ((yi > cy) != (yj > cy)) & (cx < (xj - xi) * (cy - yi) / (yj - yi) + xi)
            crossings += term
        for idx in cand[crossings % 2 == 1]:
            hits[idx].append(fence["name"])
    return hits


def _check_geofence(con, out_root: str, phases, batches: dict, fences: list[dict]) -> list[str]:
    exp: Counter = Counter()
    for (phase, bid), b in batches.items():
        enriched = b["enriched"]
        if not enriched:
            continue
        lats = np.array([float(c["location"]["lat"]) for _, c, _, _ in enriched])
        lngs = np.array([float(c["location"]["lng"]) for _, c, _, _ in enriched])
        for (sub, cell, _, _), names in zip(enriched, fence_hits(lats, lngs, fences)):
            for name in names:
                exp[(phase, bid, sub["id"], *_cell_key(cell), name)] += 1
    files = _outputs(out_root, phases, "geofence")
    act: Counter = Counter()
    if files != "[]":
        rows = con.execute(f"""
            SELECT regexp_extract(filename, '/out/([^/]+)/', 1),
                   CAST(_batch_id AS INTEGER),
                   CAST(json_extract(value, '$.subscriber.id') AS INTEGER),
                   CAST(json_extract(value, '$.celltower.mcc') AS INTEGER),
                   CAST(json_extract(value, '$.celltower.mnc') AS INTEGER),
                   CAST(json_extract(value, '$.celltower.cell') AS INTEGER),
                   CAST(json_extract(value, '$.celltower.area') AS INTEGER),
                   CAST(json_extract(value, '$.celltower.location.lat') AS DOUBLE),
                   CAST(json_extract(value, '$.celltower.location.lng') AS DOUBLE),
                   json_extract_string(value, '$.geofence.name')
            FROM read_parquet({files}, hive_partitioning = true, filename = true)""").fetchall()
        act = Counter(rows)
    if exp != act:
        missing = list((exp - act).elements())[:3]
        extra = list((act - exp).elements())[:3]
        return [f"geofence: {sum((exp - act).values())} missing, "
                f"{sum((act - exp).values())} unexpected, e.g. {missing} / {extra}"]
    return []


def check_points_message(msg: dict, k: int) -> list[str]:
    """prediction range, distance and IQR outlier flags of one batch's
    outliers (points) message, recomputed from the message alone."""
    errs = []
    by_cluster: dict[int, list[float]] = {}
    centroids: dict[int, list[float]] = {}
    for p in msg["points"]:
        c, pt, pred = p["centroid"], p["point"], p["prediction"]
        if not (isinstance(pred, int) and 0 <= pred < k):
            errs.append(f"outliers: prediction {pred} outside [0, {k})")
            continue
        if centroids.setdefault(pred, c) != c:
            errs.append(f"outliers: cluster {pred} has two centroids")
        acc = None
        for x, y in zip(pt, c):
            t = (x - y) * (x - y)
            acc = t if acc is None else acc + t
        if not math.isclose(math.sqrt(acc), p["distance"], rel_tol=1e-12, abs_tol=1e-12):
            errs.append(f"outliers: distance {p['distance']} != |point - centroid| {math.sqrt(acc)}")
        by_cluster.setdefault(pred, []).append(p["distance"])
    fences = {}
    for pred, ds in by_cluster.items():
        n = len(ds)
        if n <= 4:
            fences[pred] = (-DOUBLE_MAX, DOUBLE_MAX)
            continue
        s = sorted(ds)
        q1, q3 = s[n // 4], s[(3 * n) // 4]
        iqr = q3 - q1
        fences[pred] = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
    for p in msg["points"]:
        pred = p["prediction"]
        if pred not in fences:
            continue
        lo, hi = fences[pred]
        want = p["distance"] < lo or p["distance"] > hi
        if p["outlier"] != want:
            errs.append(f"outliers: outlier flag {p['outlier']} at distance {p['distance']}, "
                        f"fences [{lo}, {hi}]")
    return errs[:5]


def _check_outliers(con, out_root: str, phases, batches: dict, k: int,
                    kmeans_dims) -> list[str]:
    errs = []
    files = _outputs(out_root, phases, "outliers")
    rows = [] if files == "[]" else con.execute(f"""
        SELECT regexp_extract(filename, '/out/([^/]+)/', 1), CAST(_batch_id AS INTEGER), value
        FROM read_parquet({files}, hive_partitioning = true, filename = true)""").fetchall()
    msgs: dict[tuple, list[dict]] = {}
    for phase, bid, value in rows:
        msgs.setdefault((phase, bid), []).append(json.loads(value))
    for key, b in batches.items():
        got = msgs.get(key, [])
        if len(got) != 1:
            errs.append(f"outliers: batch {key} has {len(got)} messages, want 1")
            continue
        msg = got[0]
        want = Counter(
            (sub["id"], _cell_key(cell), tuple(float(metrics[d]) for d in kmeans_dims))
            for sub, cell, metrics, _ in b["enriched"]
        )
        have = Counter(
            (p["subscriber"]["id"], _cell_key(p["celltower"]), tuple(float(x) for x in p["point"]))
            for p in msg["points"]
        )
        if want != have:
            errs.append(f"outliers: batch {key} holds {sum(have.values())} points, "
                        f"{sum((want - have).values())} enriched points missing, "
                        f"{sum((have - want).values())} unexpected")
        errs.extend(f"batch {key}: {e}" for e in check_points_message(msg, k))
    return errs


def check_run(work: str, phases, seed_store_path: str, fences_path: str, layout,
              k: int, kmeans_dims) -> tuple[list[str], dict]:
    """Recompute every batch of ``phases`` ([(phase, {batch: files})])
    and compare against the outputs under ``work/out``."""
    store = seed_store(seed_store_path)
    batches = enrich_batches(phases, store, layout)
    with open(fences_path) as fh:
        fences = json.load(fh)
    out_root = os.path.join(work, "out")
    con = duckdb.connect()
    try:
        con.register("expected", _expected_frame(batches))
        names = [p for p, _ in phases]
        errs = []
        errs += _compare_stats(con, out_root, names, "celltower", "cell_stats")
        errs += _compare_stats(con, out_root, names, "subscriber", "sub_stats")
        errs += _check_geofence(con, out_root, names, batches, fences)
        errs += _check_outliers(con, out_root, names, batches, k, kmeans_dims)
    finally:
        con.close()
    counts = {key: {"cells": b["cells"], "attach": b["attach"], "enriched": len(b["enriched"])}
              for key, b in batches.items()}
    return errs, counts
