"""Probe of the production two-query wiring on attach_churn input.

    python3 perfbench/probe_concurrent.py --seed 1 --seconds 40

The program's own entry points run as two live queries over one
``KeyedUpsertStore``: ``run_upsert_stream`` (attach topic) and
``TrafficPipeline.run`` (celltower topic), both with
``available_now=False``.  One file pair becomes visible per second, as
in the benchmark's open loop.  The probe reports, per query, the
micro-batches attempted and failed, the failed-batch share over both,
the first error, and the share of published celltower files that the
celltower query never processed (its checkpoint's source log and
commits): a query that dies early fails one batch but leaves the rest
of its input unprocessed.  The benchmark serializes the two steps in one
``foreachBatch`` instead (dag.py); this probe keeps the reason on
record.  Exits 0 whether or not a query failed: the outcome is the
finding.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def error_line(message: str) -> str:
    """The line naming the error: a Spark error class when there is
    one, else the last line of the (Python proxy) traceback."""
    lines = [ln.strip() for ln in message.splitlines() if ln.strip()]
    for ln in lines:
        if re.search(r"\[[A-Z][A-Z_.]+\]", ln):
            return ln[:400]
    return lines[-1][:400] if lines else ""


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=40)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "botkop_telcotraffic_spark_spark", "streaming",
                                       "upsert_join.py")):
        print("probe_concurrent.py: run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)

    import dag as dagmod
    import gen
    import host
    from check import batch_files
    from run import make_watch, publish
    from workloads import WORKLOADS

    from botkop_telcotraffic_spark_spark.schemas import ATTACH_EVENT
    from botkop_telcotraffic_spark_spark.session import get_spark
    from botkop_telcotraffic_spark_spark.streaming.json_stream import (
        attach_source,
        celltower_source,
        decode_json_stream,
    )
    from botkop_telcotraffic_spark_spark.streaming.pipeline import (
        TrafficPipeline,
        idempotent_parquet_sink,
    )
    from botkop_telcotraffic_spark_spark.streaming.upsert_join import (
        KeyedUpsertStore,
        run_upsert_stream,
    )

    wl = WORKLOADS["attach_churn"]
    work = os.path.abspath(os.path.join(".bench_work", f"probe-concurrent-{os.getpid()}"))
    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds}
    try:
        record["settings"] = host.pin_settings(work, host.cpus())
        record["provenance"] = host.provenance(root)
        inputs = gen.render(wl, args.seed, os.path.join(work, "inputs"), open_files=args.seconds)
        spark = get_spark(app_name="perfbench-probe-concurrent", extra_conf=host.spark_conf())
        try:
            spark.sparkContext.setLogLevel("ERROR")
            store = KeyedUpsertStore(spark, os.path.join(work, "store"), key_col="bearerId",
                                     order_col="ts")
            store.upsert(decode_json_stream(spark.read.text(inputs.seed_store), ATTACH_EVENT))
            pipe = TrafficPipeline(
                metric_names=dagmod.METRICS, kmeans_dims=dagmod.KMEANS_DIMS,
                geofence_path=inputs.fences_path, k=dagmod.K, window=dagmod.WINDOW,
                slide=dagmod.SLIDE, publish_all_points=True,
                **{f"{name}_sink": idempotent_parquet_sink(os.path.join(work, "out", name))
                   for name in ("stats", "subscriber_stats", "geofence", "outlier")},
            )
            watch = make_watch(work, "open")
            q_attach = run_upsert_stream(
                attach_source(spark, os.path.join(watch, "attach")), store,
                os.path.join(work, "ckpt", "attach"), available_now=False)
            q_cell = pipe.run(
                celltower_source(spark, os.path.join(watch, "cell")), store,
                os.path.join(work, "ckpt", "cell"), available_now=False)
            first_due = int(time.time()) + 1.5
            files = inputs.files["open"] + inputs.files["drain"]
            published = []
            for i, f in enumerate(files):
                time.sleep(max(0.0, first_due + i - time.time()))
                published.append(publish(f, watch, time.time())["cell"])
                if q_attach.exception() is not None and q_cell.exception() is not None:
                    break
            time.sleep(5)
            queries = {"run_upsert_stream": q_attach, "TrafficPipeline.run": q_cell}
            attempted = failed = 0
            record["queries"] = {}
            for name, q in queries.items():
                ran = sum(1 for p in q.recentProgress if "addBatch" in p.get("durationMs", {}))
                err = q.exception()
                n_failed = 1 if err is not None else 0
                attempted += ran + n_failed
                failed += n_failed
                record["queries"][name] = {
                    "batches_completed": ran,
                    "failed": n_failed,
                    "error": None if err is None else error_line(str(err)),
                }
                if err is None:
                    q.stop()
            record["attempted_batches"] = attempted
            record["failed_batches"] = failed
            record["failed_batch_share"] = failed / attempted if attempted else 0.0
            record["first_error"] = next(
                (v["error"] for v in record["queries"].values() if v["error"]), None)
            # a file counts as processed once the batch that read it committed
            ckpt = os.path.join(work, "ckpt", "cell")
            committed = {int(n) for n in os.listdir(os.path.join(ckpt, "commits"))
                         if n.isdigit()}
            done = {p for b, ps in batch_files(ckpt).items() if b in committed for p in ps}
            record["cell_files_due"] = len(files)
            record["cell_files_processed"] = sum(1 for p in published if p in done)
            record["unprocessed_cell_share"] = 1 - record["cell_files_processed"] / len(files)
        finally:
            spark.stop()
            host.stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
