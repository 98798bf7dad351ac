"""Open-loop stream benchmark of the reference DAG.

    python3 perfbench/run.py --workload bulk_fences --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the program.  One run:

1. pins the deployment settings (cores, driver memory and young
   generation, local dirs) and renders the seeded inputs with the
   program's simulator (gen.py; not counted in ``setup_s``);
2. starts Spark (``session.get_spark``) and seeds the attach store;
3. starts one query.  Open loop: one celltower file and one attach
   file become visible each second, whatever the query is doing.  The
   query's first batch, in a cold JVM, is the warm-up and ends
   ``setup_s``.  No file is due after the first batch that ends at
   least ``--seconds`` after the warm-up.  Latency is measured on the
   files read after the batch that follows the warm-up (workloads.py
   says why); each file's latency runs from its due time to the end of
   the last topic write of the batch that read it;
4. once the open loop is processed, one drain-size file pair is made
   visible alone; ``events_per_s`` is its celltower events over its
   batch's trigger time;
5. recomputes every batch's four topics independently (check.py).

The last line of stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` micro-batches, and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is the run's full record (settings, provenance, every
user-facing figure with its unit and sample count, batch and phase
times); it is also kept under ``.bench_work/records``.  A run whose
check fails or whose generator ran late prints ``correct: false``
with no metrics and exits 1.  A checkout without the program exits 2
before printing anything.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PROGRAM = "botkop_telcotraffic_spark_spark"
GEN_LATE_LIMIT_S = 0.2  # a file published later than this invalidates the run
WORK_ROOT = ".bench_work"
TOPIC_ROWS = ("cell_stats", "sub_stats", "geofence", "outliers")
# the end-to-end metrics the last line carries (BENCHMARK.json end_to_end)
E2E = ("setup_s", "latency_p50_s", "events_per_s", "peak_rss_mb")


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, q in (0, 1]."""
    s = sorted(values)
    rank = max(1, -(-int(round(q * 1000)) * len(s) // 1000))
    return s[min(len(s), rank) - 1]


def beyond(n: int, q: float) -> int:
    """How many of n samples lie beyond their nearest-rank q-percentile."""
    return n - max(1, -(-int(round(q * 1000)) * n // 1000))


class Generator(threading.Thread):
    """Makes one staged file pair visible per due second, never waiting
    for the system under test, until ``closed(due)`` says the
    measured window ended before that due time."""

    def __init__(self, files, watch: str, first_due: float, interval: float, closed):
        super().__init__(daemon=True)
        self.files, self.watch = files, watch
        self.first_due, self.interval = first_due, interval
        self.closed = closed
        self.due: dict[str, float] = {}  # watched cell path -> due time
        self.late: list[float] = []
        self.window_closed = False

    def run(self) -> None:
        for i, f in enumerate(self.files):
            due = self.first_due + i * self.interval
            time.sleep(max(0.0, due - time.time()))
            if self.closed(due):
                self.window_closed = True
                return
            moved = publish(f, self.watch, due)
            self.late.append(time.time() - due)
            self.due[moved["cell"]] = due


def publish(f, watch: str, stamp: float) -> dict[str, str]:
    """Rename a staged file pair into ``watch``, attach first, each
    stamped with ``stamp`` as its modification time."""
    out = {}
    for topic, src in (("attach", f.attach_path), ("cell", f.cell_path)):
        dst = os.path.join(watch, topic, os.path.basename(src))
        os.utime(src, (stamp, stamp))
        os.rename(src, dst)
        out[topic] = dst
    return out


def make_watch(work: str, phase: str) -> str:
    watch = os.path.join(work, "watch", phase)
    for topic in ("cell", "attach"):
        os.makedirs(os.path.join(watch, topic), exist_ok=True)
    return watch


def topic_of(path: str) -> str:
    return os.path.basename(os.path.dirname(path))


def progress_records(q) -> list[dict]:
    """Progress of the triggers that ran a batch."""
    return [p for p in q.recentProgress if "addBatch" in p.get("durationMs", {})]


def await_processed(q, ckpt: str, path: str, what: str, timeout: float = 90.0) -> int:
    """Wait until the batch that read ``path`` has committed and
    reported its progress (stopping earlier could cut its commit
    short); return its id.  The checkpoint is polled on disk, so the
    wait makes few Py4J calls while that batch runs."""
    from check import batch_files

    deadline = time.time() + timeout
    while time.time() < deadline and q.exception() is None:
        bid = next((b for b, ps in batch_files(ckpt).items() if path in ps), None)
        if bid is not None and os.path.exists(os.path.join(ckpt, "commits", str(bid))):
            while time.time() < deadline:
                if any(p["batchId"] == bid for p in progress_records(q)):
                    return bid
                time.sleep(0.05)
        time.sleep(0.25)
    if q.exception() is None:
        raise RuntimeError(f"{what}: not processed in {timeout:.0f} s")
    raise RuntimeError(f"{what}: the query failed: {q.exception()}")


def trigger_s(progress: dict) -> float:
    """A batch's whole trigger time (offsets, planning, the callback,
    the commits), in seconds."""
    return progress["durationMs"]["triggerExecution"] / 1000


def iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stats(values) -> dict:
    values = list(values)
    if not values:
        return {"n": 0}
    return {"n": len(values), "p50": statistics.median(values),
            "p90": percentile(values, 0.9), "max": max(values)}


class Run:
    """One benchmark run of one workload and seed."""

    def __init__(self, wl, seed: int, seconds: int, trace: bool, root: str, work: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.root, self.work = root, work
        self.record: dict = {"workload": wl.name, "seed": seed, "seconds": seconds,
                             "trace": int(trace)}
        self.dag = None
        self.drain_batch = None  # id of the batch that read the drain file

    # --- phases ---------------------------------------------------------

    def render(self) -> float:
        """Render the inputs; returns the time it took (not setup)."""
        import gen
        from workloads import BATCHES_BEFORE_DRAIN, SPARE_OPEN_FILES

        t = time.time()
        self.inputs = gen.render(self.wl, self.seed, os.path.join(self.work, "inputs"),
                                 open_files=self.seconds + SPARE_OPEN_FILES)
        if self.trace:  # the single-threaded drain needs its own copy
            self.st_drain = copy_phase(
                self.inputs.files["open"][:BATCHES_BEFORE_DRAIN] + self.inputs.files["drain"],
                "drain_st")
        gen_s = time.time() - t
        self.record["phases_s"] = {"generate": gen_s}
        return gen_s

    def new_dag(self, spark, work: str, trace: bool):
        """A fresh store (seeded) and pipeline writing under ``work``."""
        import dag as dagmod
        from botkop_telcotraffic_spark_spark.schemas import ATTACH_EVENT
        from botkop_telcotraffic_spark_spark.streaming.json_stream import decode_json_stream
        from spans import Tracer

        dag = dagmod.Dag(spark, work, os.path.join(work, "store"), self.inputs.fences_path,
                         Tracer(trace))
        seed = decode_json_stream(spark.read.text(self.inputs.seed_store), ATTACH_EVENT)
        dag.store.upsert(seed)
        return dag

    def stream(self):
        """The main query: the open loop, then the drain file alone.
        Returns the generator and the progress of every batch."""
        from workloads import FILE_INTERVAL_S

        dag = self.dag
        watch = make_watch(self.work, "stream")
        ckpt = dag.checkpoint("stream")
        files = self.inputs.files["open"]
        gen = None

        def closed(due: float) -> bool:
            # the window closes with the first batch that ends at least
            # --seconds after the warm-up batch (the query's first)
            ends = [r["end"] for r in dag.batches]
            return any(ends[0] + self.seconds <= e <= due for e in ends[1:])

        def drive(q):
            nonlocal gen
            # start the schedule once the query has run its first
            # (empty) trigger, so query start-up never delays a file
            deadline = time.time() + 60
            while not q.recentProgress and q.exception() is None:
                if time.time() > deadline:
                    raise RuntimeError("open loop: the query ran no trigger in 60 s")
                time.sleep(0.02)
            # due times sit half-way between the 1 s trigger ticks, so a
            # file never races the tick it would otherwise land on
            gen = Generator(files, watch, int(time.time()) + 1.5, FILE_INTERVAL_S, closed)
            gen.start()
            gen.join()
            if not gen.window_closed:
                raise RuntimeError("open loop: the staged files ran out before the window closed")
            last = max(gen.due, key=gen.due.get)
            await_processed(q, ckpt, last, "open loop: the last file")
            drain = self.inputs.files["drain"][0]
            moved = publish(drain, watch, time.time())
            self.drain_batch = await_processed(q, ckpt, moved["cell"], "the drain file")

        t = time.time()
        q = dag.run_phase("stream", watch, open_loop=True, on_started=drive)
        self.record["phases_s"]["stream"] = time.time() - t
        return gen, progress_records(q)

    def drain(self, dag, files, phase: str):
        """Drain a fixed backlog, one file pair per batch; all batches
        but the last warm the process up.  Returns the celltower events
        of the last batch over its trigger time, and every batch's
        progress."""
        watch = make_watch(self.work, phase)
        stamp = time.time() - 3600
        for i, f in enumerate(files):
            publish(f, watch, stamp + i)
        t = time.time()
        q = dag.run_phase(phase, watch, open_loop=False, max_files=1)
        self.record["phases_s"][phase] = time.time() - t
        prog = progress_records(q)
        if len(prog) != len(files):
            raise RuntimeError(f"{phase}: {len(prog)} batches for {len(files)} files")
        return files[-1].cell_lines / trigger_s(prog[-1]), prog

    def single_thread_drain(self, spark):
        """The drain batch again in a fresh one-core JVM, store and
        model: the single-threaded baseline of the traced run.  Like
        the main run's drain batch, it has ``BATCHES_BEFORE_DRAIN``
        batches of open-loop files before it in a cold JVM, so the two
        throughputs compare like with like."""
        import host
        from botkop_telcotraffic_spark_spark.session import get_spark

        spark.stop()
        host.stop_jvm()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark1 = get_spark(app_name=f"perfbench-{self.wl.name}-1cpu",
                           extra_conf=host.spark_conf())
        spark1.sparkContext.setLogLevel("ERROR")
        dag1 = self.new_dag(spark1, os.path.join(self.work, "single_thread"), True)
        eps, prog = self.drain(dag1, self.st_drain, "drain_st")
        jobs = job_counts(spark1, [f"drain_st:{p['batchId']}" for p in prog[-1:]])
        return spark1, {"events_per_s": eps, "jobs": jobs, "batches": len(prog)}

    # --- the run ----------------------------------------------------------

    def execute(self) -> dict:
        import host
        from botkop_telcotraffic_spark_spark.session import get_spark

        ncpus = host.cpus()
        self.record["settings"] = {**host.pin_settings(self.work, ncpus), **host.spark_conf()}
        self.record["provenance"] = host.provenance(self.root)
        self.record["loadavg_before"] = host.loadavg()
        ticks = host.cpu_ticks()
        gen_s = self.render()
        spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=host.spark_conf())
        try:
            spark.sparkContext.setLogLevel("ERROR")
            # keep every batch's progress for the per-layer split
            spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
            t = time.time()
            self.dag = self.new_dag(spark, self.work, self.trace)
            self.record["phases_s"]["seed_store"] = time.time() - t
            gen, prog = self.stream()
            setup_s = self.dag.batches[0]["end"] - PROCESS_START - gen_s
            drain_p = next(p for p in prog if p["batchId"] == self.drain_batch)
            events_per_s = self.inputs.files["drain"][0].cell_lines / trigger_s(drain_p)
            rss = host.peak_rss_mb(os.getpid())
            layers = None
            if self.trace:
                layers = {"jobs": job_counts(spark, [f"stream:{p['batchId']}" for p in prog])}
                spark, layers["single_thread"] = self.single_thread_drain(spark)
        finally:
            try:
                spark.stop()
            finally:
                host.stop_jvm()
        self.record["loadavg_after"] = host.loadavg()
        self.record.update(host.cpu_shares(ticks))
        return self.summarize(setup_s, gen, prog, events_per_s, rss, layers)

    def summarize(self, setup_s, gen, prog, events_per_s, rss, layers):
        from check import batch_files, check_run
        import dag as dagmod

        dag = self.dag
        phases = [("stream", batch_files(dag.checkpoint("stream")))]
        t = time.time()
        errs, counts = check_run(self.work, phases, self.inputs.seed_store,
                                 self.inputs.fences_path, topic_of, dagmod.K,
                                 dagmod.KMEANS_DIMS)
        self.record["phases_s"]["check"] = time.time() - t
        batch_of = {p: b for b, ps in phases[0][1].items() for p in ps}
        end_of = {r["batch"]: r["end"] for r in dag.batches}
        # the ramp, not measured: the warm-up batch and the batch after
        # it, which reads the files that piled up during the warm-up
        ramp = {r["batch"] for r in dag.batches[:2]}
        measured = {p: due for p, due in gen.due.items() if batch_of[p] not in ramp}
        latency = [end_of[batch_of[p]] - due for p, due in measured.items()]
        late_max = max(gen.late)
        if late_max > GEN_LATE_LIMIT_S:
            errs.append(f"generator ran {late_max:.3f} s late (limit {GEN_LATE_LIMIT_S} s)")
        attempted = len(dag.batches)
        drained = self.inputs.files["drain"][0].cell_lines
        self.record.update({
            "open_loop": {"files_published": len(gen.due), "files_measured": len(measured),
                          "batches_measured": len({batch_of[p] for p in measured}),
                          "drain_batch": self.drain_batch},
            "check": "passed" if not errs else "failed",
            "check_errors": errs,
            "gen_late_s": stats(gen.late),
            "batches": [{"phase": r["phase"], "batch": r["batch"],
                         "start_s": r["start"] - PROCESS_START,
                         "seconds": r["end"] - r["start"]} for r in dag.batches],
            # every user-facing figure with its unit and sample count
            "report": {
                "setup_s": {"value": setup_s, "unit": "s", "samples": 1},
                "latency_p50_s": {"value": statistics.median(latency), "unit": "s",
                                  "samples": len(latency)},
                "latency_p90_s": {"value": percentile(latency, 0.9), "unit": "s",
                                  "samples": len(latency),
                                  "samples_beyond": beyond(len(latency), 0.9)},
                "events_per_s": {"value": events_per_s, "unit": "1/s",
                                 "samples": drained},
                "failed_batch_share": {"value": 0.0, "unit": "ratio", "samples": attempted},
                "peak_rss_mb": {"value": rss, "unit": "MB", "samples": 1},
            },
        })
        e2e = {k: (self.record["report"][k]["value"], self.record["report"][k]["unit"])
               for k in E2E}
        if layers is None:
            metrics = e2e
        else:
            metrics = per_layer(self, counts, prog, gen, measured, layers, e2e)
            self.record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        return {
            "correct": not errs,
            "attempted": attempted,
            "failed": 0,
            "metrics": {} if errs else {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def copy_phase(files, phase: str):
    """Copies of staged file pairs under a new phase name."""
    import dataclasses

    out = []
    for f in files:
        paths = {}
        for topic, src in (("cell", f.cell_path), ("attach", f.attach_path)):
            d = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(src))), phase, topic)
            os.makedirs(d, exist_ok=True)
            paths[topic] = shutil.copy(src, os.path.join(d, os.path.basename(src)))
        out.append(dataclasses.replace(f, phase=phase, cell_path=paths["cell"],
                                       attach_path=paths["attach"]))
    return out


def job_counts(spark, groups) -> dict[str, dict[str, int]]:
    """Per job group (one per batch): jobs, stages that ran and tasks
    completed, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for g in groups:
        jobs = tracker.getJobIdsForGroup(g)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        out[g] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
    return out


def per_layer(run: Run, counts, prog, gen, measured, layers, e2e) -> dict:
    """The traced run's per-layer table over its timed batches (every
    batch of the query but the warm-up): times as p50/p90 over
    batches, counts as the per-batch median.  Queue wait is per
    measured open-loop file, generator lateness per published file."""
    from check import batch_files
    from spans import self_times

    dag = run.dag
    selfs = self_times(dag.tracer.spans)
    spans = {}
    for s in dag.tracer.spans:
        spans.setdefault((s["batch"], s["name"]), []).append(s)
    timed = [("stream", p) for p in prog if p["batchId"] != dag.batches[0]["batch"]]
    keys = [f"{phase}:{p['batchId']}" for phase, p in timed]
    files = {"stream": batch_files(dag.checkpoint("stream"))}
    manifest = {os.path.basename(f.cell_path): f for fs in run.inputs.files.values() for f in fs}
    c = [counts[(phase, p["batchId"])] for phase, p in timed]

    def span_s(name, key, self_time=False):
        ss = spans.get((key, name), [])
        return sum(selfs[s["id"]] if self_time else s["end"] - s["start"] for s in ss)

    def lines(phase, bid):
        cells = [manifest[os.path.basename(p)] for p in files[phase][bid] if topic_of(p) == "cell"]
        return sum(f.cell_lines + f.attach_lines for f in cells)

    out: dict[str, tuple[float, str]] = {}

    def add_time(name, values, unit="s"):
        values = list(values)
        out[f"{name}.p50"] = (statistics.median(values), unit)
        out[f"{name}.p90"] = (percentile(values, 0.9), unit)

    def add_count(name, values, unit="count"):
        out[name] = (statistics.median(list(values)), unit)

    for field, name in (("triggerExecution", "trigger"), ("addBatch", "addBatch"),
                        ("latestOffset", "latestOffset"), ("getBatch", "getBatch"),
                        ("queryPlanning", "queryPlanning"), ("walCommit", "walCommit"),
                        ("commitOffsets", "commitOffsets")):
        add_time(f"sq.{name}_ms", (p["durationMs"].get(field, 0) for _, p in timed), "ms")
    start_of = {p["batchId"]: iso_epoch(p["timestamp"]) for p in prog}
    batch_of = {p: b for b, ps in files["stream"].items() for p in ps}
    add_time("sq.queue_wait_s", (start_of[batch_of[p]] - due for p, due in measured.items()))
    add_count("sq.input_rows", (p["numInputRows"] for _, p in timed))
    add_time("decode.s", (span_s("decode", k) for k in keys))
    add_count("decode.dropped_rows", (lines(phase, p["batchId"]) - n["cells"] - n["attach"]
                                      for (phase, p), n in zip(timed, c)))
    add_time("upsert.s", (span_s("upsert", k) for k in keys))
    add_count("upsert.rows_in", (n["attach"] for n in c))
    store = [dag.store_stats[k] for k in keys]
    add_count("upsert.buckets_rewritten", (s["buckets_rewritten"] for s in store))
    add_count("store.rows", (s["rows"] for s in store))
    add_count("store.bytes", (s["bytes"] for s in store), "B")
    add_count("store.files", (s["files"] for s in store))
    add_time("join.s", (span_s("join", k) for k in keys))
    add_count("join.enriched_share", (n["enriched"] / n["cells"] for n in c), "ratio")
    for span in ("foreachBatch", "process_batch"):
        add_time(f"{span}.s", (span_s(span, k) for k in keys))
        add_time(f"{span}.self_s", (span_s(span, k, True) for k in keys))
    # addBatch time the callback's own spans do not cover (Py4J
    # callback round trip, batch DataFrame set-up)
    add_time("sq.addBatch_outside_callback_ms",
             (p["durationMs"]["addBatch"] - 1000 * span_s("foreachBatch", k)
              for (_, p), k in zip(timed, keys)), "ms")
    for topic in TOPIC_ROWS:
        add_time(f"sink.{topic}.s", (span_s(f"sink.{topic}", k) for k in keys))
    for span in ("stats.plan", "geofence.plan", "anomalies.plan", "kmeans.update_and_assign"):
        add_time(f"{span}.s", (span_s(span, k) for k in keys))
    for topic in TOPIC_ROWS:
        add_count(f"out.{topic}_rows", (output_rows(dag.out_dir(phase, topic), p["batchId"])
                                        for phase, p in timed))
    for field in ("jobs", "stages", "tasks"):
        add_count(f"spark.{field}", (layers["jobs"][k][field] for k in keys))
    out["gen.late_s.max"] = (max(gen.late), "s")
    out["gen.late_s.p99"] = (percentile(gen.late, 0.99), "s")
    # the same end-to-end figures with tracing on: minus the untraced
    # runs' medians, they are the tracing overhead
    out["traced.latency_p50_s"] = (e2e["latency_p50_s"][0], "s")
    out["traced.events_per_s"] = (e2e["events_per_s"][0], "1/s")
    one = layers["single_thread"]
    out["single_thread.events_per_s"] = (one["events_per_s"], "1/s")
    out["single_thread.speedup"] = (e2e["events_per_s"][0] / one["events_per_s"], "ratio")
    out["single_thread.spark.tasks"] = (
        statistics.median(v["tasks"] for v in one["jobs"].values()), "count")
    return out


def output_rows(topic_dir: str, batch_id: int) -> int:
    import pyarrow.parquet as pq

    d = os.path.join(topic_dir, f"_batch_id={batch_id}")
    return sum(pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
               for n in os.listdir(d) if n.endswith(".parquet"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PROGRAM, "streaming", "pipeline.py")):
        print(f"run.py: no {PROGRAM} package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds < 2:
        print("run.py: --seconds must be at least 2", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.abspath(os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}"))
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), root, work)
    try:
        result = run.execute()
    except Exception:  # a failed query or phase: the run reports failure
        traceback.print_exc()
        run.record["error"] = traceback.format_exc().splitlines()[-1]
        attempted = len(run.dag.batches) + 1 if run.dag else 1
        result = {"correct": False, "attempted": attempted, "failed": 1, "metrics": {}}
    finally:
        keep = os.path.abspath(os.path.join(WORK_ROOT, "records"))
        os.makedirs(keep, exist_ok=True)
        if run.dag is not None and run.dag.tracer.enabled:
            run.dag.tracer.write(os.path.join(keep, f"{tag}.spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(keep, f"{tag}.json"), "w") as fh:
        json.dump(run.record, fh, indent=1, default=str)
    print(json.dumps(run.record, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
