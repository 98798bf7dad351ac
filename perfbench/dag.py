"""The reference DAG as one Structured Streaming query per phase.

Each micro-batch is one ``foreachBatch`` callback that calls the
program's public functions in the reference's per-interval order
(attach upsert before the celltower join,
``TrafficStreamProcessor.scala:42,52``): ``decode_json_stream`` for
each topic, ``KeyedUpsertStore.upsert`` of the attach events,
``store.join`` of the celltower events on ``bearerId``, then
``TrafficPipeline.process_batch``, whose four topics are rendered by
``streaming.payloads`` and written by ``idempotent_parquet_sink``.

Both topics are file streams unioned into one query, so one batch
covers one interval of both, as in the reference's single
StreamingContext.  The production wiring runs two live queries
instead; ``probe_concurrent.py`` shows why the benchmark does not.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from botkop_telcotraffic_spark_spark.schemas import ATTACH_EVENT, CELLTOWER_EVENT
from botkop_telcotraffic_spark_spark.streaming.json_stream import decode_json_stream
from botkop_telcotraffic_spark_spark.streaming.payloads import (
    cluster_points_payload,
    geofence_payload,
    metric_stats_payload,
)
from botkop_telcotraffic_spark_spark.streaming.pipeline import (
    TrafficPipeline,
    idempotent_parquet_sink,
    read_geofences,
)
from botkop_telcotraffic_spark_spark.streaming.upsert_join import KeyedUpsertStore

TOPICS = ("cell_stats", "sub_stats", "geofence", "outliers")
METRICS = ["rtt", "byteLoss", "throughput"]
KMEANS_DIMS = ["rtt", "byteLoss"]
K = 3
WINDOW, SLIDE = "30 seconds", "2 seconds"


class Dag:
    """One store, one pipeline (so the k-means model carries across
    phases) and the per-batch records every phase appends to."""

    def __init__(self, spark, work: str, store_path: str, fences_path: str, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.store = KeyedUpsertStore(spark, store_path, key_col="bearerId", order_col="ts")
        self.batches: list[dict] = []  # one record per finished callback
        self.phase = None
        self.pipe = TrafficPipeline(
            metric_names=METRICS,
            kmeans_dims=KMEANS_DIMS,
            geofence_path=fences_path,
            k=K,
            window=WINDOW,
            slide=SLIDE,
            stats_sink=self._topic_sink("cell_stats", lambda df: metric_stats_payload(df, "celltower")),
            subscriber_stats_sink=self._topic_sink(
                "sub_stats", lambda df: metric_stats_payload(df, "subscriber")
            ),
            geofence_sink=self._topic_sink(
                "geofence", lambda df: geofence_payload(df, read_geofences(spark, fences_path))
            ),
            outlier_sink=self._topic_sink("outliers", cluster_points_payload),
            publish_all_points=True,
        )
        # spans around the analyses' plan builders and the model update:
        # process_batch builds each analysis before handing it to a sink
        for obj, name, span in (
            (self.pipe, "metric_stats_fused", "stats.plan"),
            (self.pipe, "geofence_matches", "geofence.plan"),
            (self.pipe, "anomalies", "anomalies.plan"),
            (self.pipe.model, "update_and_assign", "kmeans.update_and_assign"),
        ):
            setattr(obj, name, self._traced(span, getattr(obj, name)))
        self._key = ""
        self.store_stats: dict[str, dict] = {}  # traced runs: batch key -> store counts

    def _traced(self, span: str, fn):
        def call(*args, **kwargs):
            with self.tracer.span(span, self._key):
                return fn(*args, **kwargs)

        return call

    def out_dir(self, phase: str, topic: str) -> str:
        return os.path.join(self.work, "out", phase, topic)

    def _topic_sink(self, topic: str, render):
        def sink(df, batch_id):
            with self.tracer.span(f"sink.{topic}", self._key):
                idempotent_parquet_sink(self.out_dir(self.phase, topic))(render(df), batch_id)

        return sink

    def on_batch(self, batch, batch_id: int) -> None:
        tr = self.tracer
        key = self._key = f"{self.phase}:{batch_id}"
        start = time.time()
        if tr.enabled:
            # every job this callback starts carries the batch's group
            self.spark.sparkContext.setJobGroup(key, "perfbench batch")
        with tr.span("foreachBatch", key):
            with tr.span("decode", key):
                cells = decode_json_stream(
                    batch.where(F.col("_topic") == "cell").select("value"), CELLTOWER_EVENT
                )
                attach = decode_json_stream(
                    batch.where(F.col("_topic") == "attach").select("value"), ATTACH_EVENT
                )
            before = store_layout(self.store.path) if tr.enabled else None
            with tr.span("upsert", key):
                # run_upsert_stream's own guard: an empty batch is skipped
                if not attach.isEmpty():
                    self.store.upsert(attach)
            if tr.enabled:
                with tr.span("trace.store_stats", key):
                    self.store_stats[key] = store_stats(self.store.path, before)
            with tr.span("join", key):
                enriched = self.store.join(cells, fact_key="bearerId").select(
                    "subscriber", "celltower", "metrics", "event_time"
                )
            with tr.span("process_batch", key):
                self.pipe.process_batch(enriched, batch_id)
        self.batches.append(
            {"phase": self.phase, "batch": batch_id, "start": start, "end": time.time()}
        )

    def run_phase(self, phase: str, watch: str, *, open_loop: bool, max_files=None,
                  on_started=None):
        """Run one query over ``watch/{cell,attach}``.

        ``open_loop``: the reference's 1 s processing-time trigger;
        ``on_started(query)`` runs once the query is live and returns
        when the phase's input is complete and processed.  Otherwise
        availableNow: the query drains what is there and stops.
        ``max_files``: files per topic per batch (None: all visible).
        """
        self.phase = phase
        reader = self.spark.readStream.format("text")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        src = reader.load(os.path.join(watch, "cell")).select(
            F.lit("cell").alias("_topic"), "value"
        ).unionByName(
            reader.load(os.path.join(watch, "attach")).select(
                F.lit("attach").alias("_topic"), "value"
            )
        )
        writer = src.writeStream.foreachBatch(self.on_batch).option(
            "checkpointLocation", self.checkpoint(phase)
        )
        if open_loop:
            q = writer.trigger(processingTime="1 second").start()
            try:
                on_started(q)
            finally:
                q.stop()
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{phase} query failed: {q.exception()}")
        return q

    def checkpoint(self, phase: str) -> str:
        return os.path.join(self.work, "ckpt", phase)


def store_layout(path: str) -> dict[str, int]:
    """bucket directory -> inode; a rewritten bucket gets a new one."""
    out = {}
    for name in os.listdir(path):
        if name.startswith("_bucket="):
            out[name] = os.stat(os.path.join(path, name)).st_ino
    return out


def store_stats(path: str, before: dict[str, int]) -> dict[str, int]:
    """Rows, bytes and files of the store, and buckets the last upsert
    replaced (footer reads only; no Spark job)."""
    import pyarrow.parquet as pq

    after = store_layout(path)
    rows = nbytes = files = 0
    for bucket in after:
        bdir = os.path.join(path, bucket)
        for name in os.listdir(bdir):
            if name.endswith(".parquet"):
                f = os.path.join(bdir, name)
                rows += pq.ParquetFile(f).metadata.num_rows
                nbytes += os.path.getsize(f)
                files += 1
    rewritten = sum(1 for b, ino in after.items() if before.get(b) != ino)
    return {"rows": rows, "bytes": nbytes, "files": files, "buckets_rewritten": rewritten}
