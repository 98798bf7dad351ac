"""Self-test of the benchmark: the generator's event shape against the
program's, a tiny-scale smoke run of every workload, then proof that
the output check catches a wrong answer.

    python3 perfbench/selftest.py

First, the JSON lines gen.py renders for the simulator's first rows
must equal what the program's ``as_celltower_events`` /
``as_attach_events`` + ``to_json`` make of the same rows, so the
benchmark's inputs follow the program's event model.  Then, for each workload, a copy scaled down to a few dozen events per file
runs the whole benchmark (open loop, drain file, check) and must come out
correct.  Then, on the kept outputs, one value of one message is
corrupted at a time (a stats mean, a geofence name, an outlier flag)
and the check must report each.  Exits 0 when everything holds.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def tiny(wl):
    return dataclasses.replace(
        wl, open_cell=20, open_attach=max(2, wl.open_attach // 100),
        store_keys=500, fences=min(wl.fences, 10), drain_cell=60,
        drain_attach=max(3, wl.drain_attach // 100),
    )


def adapter_mismatches(spark, rows: int = 20) -> list[str]:
    """Rows where gen's event differs from the program adapter's."""
    from pyspark.sql import functions as F

    import gen
    from botkop_telcotraffic_spark_spark.sources import simulator

    simulator.register(spark)
    out = []
    for kind, adapter, shape in (
        ("celltower", simulator.as_celltower_events, gen.celltower_event),
        ("attach", simulator.as_attach_events, gen.attach_event),
    ):
        opts = {"kind": kind, "rows": str(rows), "seed": "5", "bearers": "50",
                "start_ts": "0", "step_ms": "1", "partitions": "1"}
        df = adapter(spark.read.format("telco_traffic").options(**opts).load())
        want = [json.loads(r[0]) for r in
                df.drop("event_time").select(F.to_json(F.struct("*"))).collect()]
        # the row's own bearer and ts_ms, as the adapter keeps them
        got = [shape(row, row[0], row[-1]) for row in gen.simulated(kind, rows, 5, 50)]
        out += [f"{kind} row {i}: gen {g} != program {w}"
                for i, (g, w) in enumerate(zip(got, want)) if g != w]
        if len(got) != len(want):
            out.append(f"{kind}: gen made {len(got)} rows, the program {len(want)}")
    return out


def rewrite_first(topic_dir: str, edit) -> None:
    """Apply ``edit`` to the first message of the first batch file
    where it changes something; the file is rewritten in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(topic_dir, "*", "*.parquet"))):
        values = pq.read_table(path).column("value").to_pylist()
        for i, v in enumerate(values):
            new = edit(v)
            if new != v:
                values[i] = new
                pq.write_table(pa.table({"value": values}), path)
                return
    raise AssertionError(f"nothing to corrupt under {topic_dir}")


def bump_mean(msg: str) -> str:
    head, sep, tail = msg.partition('"mean":')
    if not sep:
        return msg
    num, rest = tail.split(",", 1)
    return f"{head}{sep}{float(num) + 0.01:f},{rest}"


def flip_outlier(msg: str) -> str:
    if '"outlier": false' in msg:
        return msg.replace('"outlier": false', '"outlier": true', 1)
    return msg.replace('"outlier": true', '"outlier": false', 1)


def rename_fence(msg: str) -> str:
    return msg.replace('"name":"fence-', '"name":"fence-x', 1)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    import dag as dagmod
    import host
    from check import batch_files, check_run
    from run import Run, topic_of
    from workloads import WORKLOADS

    from botkop_telcotraffic_spark_spark.session import get_spark

    work = os.path.abspath(os.path.join(".bench_work", f"selftest-shape-{os.getpid()}"))
    try:
        host.pin_settings(work, host.cpus())
        spark = get_spark(app_name="perfbench-selftest", extra_conf=host.spark_conf())
        try:
            failures = adapter_mismatches(spark)
        finally:
            try:
                spark.stop()
            finally:
                host.stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not failures:
        print("gen's events equal the program adapters' to_json output", flush=True)
    for wl in WORKLOADS.values():
        work = os.path.abspath(os.path.join(".bench_work", f"selftest-{wl.name}-{os.getpid()}"))
        try:
            run = Run(tiny(wl), seed=7, seconds=3, trace=False, root=root, work=work)
            result = run.execute()
            if not result["correct"]:
                failures.append(f"{wl.name}: smoke run not correct: {run.record['check_errors']}")
                continue
            print(f"{wl.name}: smoke run correct, {result['attempted']} batches", flush=True)
            phases = [("stream", batch_files(run.dag.checkpoint("stream")))]
            for topic, edit in (("cell_stats", bump_mean), ("geofence", rename_fence),
                                ("outliers", flip_outlier)):
                saved = work + ".saved"
                shutil.copytree(os.path.join(work, "out"), saved)
                try:
                    rewrite_first(os.path.join(work, "out", "stream", topic), edit)
                    errs, _ = check_run(work, phases, run.inputs.seed_store,
                                        run.inputs.fences_path, topic_of, dagmod.K,
                                        dagmod.KMEANS_DIMS)
                finally:
                    shutil.rmtree(os.path.join(work, "out"))
                    shutil.move(saved, os.path.join(work, "out"))
                if errs:
                    print(f"{wl.name}: corrupted {topic} caught: {errs[0][:160]}", flush=True)
                else:
                    failures.append(f"{wl.name}: corrupted {topic} passed the check")
        finally:
            shutil.rmtree(work, ignore_errors=True)
            shutil.rmtree(work + ".saved", ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
