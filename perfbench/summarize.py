"""Summarize kept run records: median and spread per metric.

    python3 perfbench/summarize.py [--records .bench_work/records] [--workload W ...]

Reads the ``<workload>-s<seed>-t<trace>.json`` records that run.py
keeps and prints, per workload and end-to-end metric, the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread
(q3 - q1) / median over the untraced runs; for traced runs, the
median of each per-layer metric and the tracing overhead (traced
figure minus the untraced median).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics


def load(records: str, workload: str, trace: int) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(records, f"{workload}-s*-t{trace}.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("check") == "passed":
            out.append(rec)
    return out


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"runs": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def summarize(records: str, workload: str) -> dict:
    runs = load(records, workload, 0)
    out: dict = {"untraced": {}}
    if runs:
        for name in runs[0]["report"]:
            out["untraced"][name] = spread([r["report"][name]["value"] for r in runs])
        out["untraced"]["seeds"] = [r["seed"] for r in runs]
    traced = load(records, workload, 1)
    if traced:
        layers = [r["per_layer"] for r in traced if "per_layer" in r]
        if layers:
            out["per_layer"] = {k: statistics.median(v[k] for v in layers) for k in layers[0]}
            for name in ("latency_p50_s", "events_per_s"):
                if name in out["untraced"]:
                    traced_med = out["per_layer"][f"traced.{name}"]
                    out[f"tracing_overhead.{name}"] = (
                        traced_med - out["untraced"][name]["median"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--records", default=os.path.join(".bench_work", "records"))
    ap.add_argument("--workload", action="append")
    args = ap.parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    print(json.dumps({w: summarize(args.records, w) for w in args.workload or names}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
