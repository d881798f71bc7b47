"""Traced run: per-layer spans and Spark event-log records.

Spans are recorded here, in the benchmark, around calls into each
module's public functions; the program itself is not instrumented.
Each span sets ``setJobGroup(<layer>)`` first, so the event log's task
metrics fold into one record per layer.

The sweep re-runs the pipeline one layer at a time.  Each layer reads
its input from the previous stage's committed output of a plain
``run_pipeline`` build and forces its result with a no-op write, so
one layer's time never includes another's.  Stage commits are timed
separately as ``StageManifest.materialize`` of that already-computed
output.  The ``build`` span covers the whole sweep; it minus the plain
build's wall time is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import pathlib
import time

STAGES = [
    "extract", "terms", "edges", "components",
    "canonical_map", "canonical_triples", "materialize",
]
LAYERS = ["session", "extract", "linking", "cc", "canonicalize", "storage", "manifest", "pipeline"]
EVLOG_TASK_METRICS = ["executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"]


class Tracer:
    """In-memory spans: (name, start, end, parent), written out at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        if layer is not None:
            self.spark.sparkContext.setJobGroup(layer, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> float:
        return sum(self.durations(name))

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
            if s["parent"] is not None:
                out[s["parent"]] = out.get(s["parent"], 0.0) - (s["end"] - s["start"])
        return out


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- event log ---------------------------------------------------------------

# accumulator name -> (metric, raw units per reported unit)
_SQL_METRICS = {
    "time to run Python workers": ("python_run_s", 1e3),
    "time to initialize Python workers": ("python_init_s", 1e3),
    "data sent to Python workers": ("arrow_sent_bytes", 1),
    "data returned from Python workers": ("arrow_returned_bytes", 1),
}
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def fold_event_log(log_dir: pathlib.Path) -> dict[str, dict[str, float]]:
    """Per-job-group sums of task and Python-worker metrics.

    Reads the uncompressed JSON-lines event log(s) under ``log_dir``;
    every completed stage is charged to the job group of the first job
    that listed it.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    files = sorted(p for p in log_dir.rglob("events_*")) or sorted(
        p for p in log_dir.iterdir() if p.is_file()
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = out.setdefault(stage_group.get(info["Stage ID"], "none"), {})
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        key = _TASK_METRICS.get(name) or _SQL_METRICS.get(name)
                        if key is None or acc.get("Value") is None:
                            continue
                        field, per_unit = key
                        rec[field] = rec.get(field, 0) + float(acc["Value"]) / per_unit
    return out


# -- the layered sweep -------------------------------------------------------


def layered_sweep(tracer: Tracer, docs, plain_dir: str, trace_dir: str, fingerprint: str) -> dict:
    """Time each layer of one build apart; returns count metrics."""
    from pyspark import StorageLevel

    from turtle_spark.operators import linking
    from turtle_spark.operators.canonicalize import (
        apply_canonical_map,
        canonical_map,
        dedup_triples,
    )
    from turtle_spark.operators.cc import connected_components
    from turtle_spark.operators.extract import extract_triples
    from turtle_spark.plans.manifest import StageManifest
    from turtle_spark.sources.storage import DEFAULT_BUCKETS, with_bucket

    spark = tracer.spark
    plain = StageManifest(plain_dir)
    out = StageManifest(trace_dir)

    def committed(stage: str):
        return spark.read.parquet(plain.data_path(stage))

    def commit(stage: str) -> None:
        df = committed(stage)  # already computed: the span is the commit alone
        with tracer.span(f"manifest.commit.{stage}", "manifest"):
            out.materialize(stage, df, fingerprint)

    counts: dict = {}
    with tracer.span("build"):
        with tracer.span("stage.extract"):
            with tracer.span("extract", "extract"):
                noop_write(extract_triples(docs))
            commit("extract")
        with tracer.span("stage.terms"):
            with tracer.span("linking.terms", "linking"):
                noop_write(linking.distinct_terms(linking.extract_mentions(committed("extract"))))
            commit("terms")
        with tracer.span("stage.edges"):
            terms = committed("terms")
            keys = linking.lsh_band_keys(terms).persist(StorageLevel.MEMORY_AND_DISK)
            with tracer.span("linking.band_keys", "linking"):
                noop_write(keys)
            # the pipeline's clique guards (plans.pipeline.run_pipeline)
            pairs = linking.candidate_pairs(
                keys,
                bucket_cap=linking.DEFAULT_BUCKET_CAP,
                src_degree_cap=8,
                neighbor_window=8,
                salt_cap_order=True,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            with tracer.span("linking.candidates", "linking"):
                noop_write(pairs)
            with tracer.span("linking.verify", "linking"):
                noop_write(linking.verify_pairs(pairs, terms, threshold=linking.DEFAULT_JACCARD))
            commit("edges")
        with tracer.span("stage.components"):
            with tracer.span("cc", "cc"):
                noop_write(connected_components(committed("edges"), assume_distinct=True))
            commit("components")
        with tracer.span("stage.canonical_map"):
            with tracer.span("canonicalize.map", "canonicalize"):
                noop_write(canonical_map(committed("terms"), committed("components")))
            commit("canonical_map")
        with tracer.span("stage.canonical_triples"):
            with tracer.span("canonicalize.rewrite", "canonicalize"):
                noop_write(dedup_triples(apply_canonical_map(committed("extract"), committed("canonical_map"))))
            commit("canonical_triples")
        with tracer.span("stage.materialize"):
            canonical = committed("canonical_triples")
            with tracer.span("storage.materialize", "storage"):
                out.materialize(
                    "materialize",
                    with_bucket(canonical, DEFAULT_BUCKETS).repartition(DEFAULT_BUCKETS, "bucket"),
                    fingerprint,
                    partition_by=["bucket"],
                )
    spark.sparkContext.setJobGroup("checks", "trace counts")
    counts["candidates"] = pairs.count()
    keys.unpersist()
    pairs.unpersist()
    comps = committed("components")
    counts["cc_nodes"] = comps.count()
    counts["cc_components"] = comps.select("component").distinct().count()
    counts["rows"] = {s: plain.read(s)["rows"] for s in STAGES}
    files = [p for p in pathlib.Path(out.data_path("materialize")).rglob("*.parquet")]
    counts["storage_files"] = len(files)
    counts["storage_bytes"] = sum(p.stat().st_size for p in files)
    return counts


def resume_and_lookups(tracer: Tracer, plain_dir: str, fingerprint: str, subjects: list[str]) -> dict:
    """``manifest.resume``: load_or_compute on every committed stage;
    ``storage.lookup``: closed-loop ``read_subject`` point lookups.
    Returns each subject's looked-up rows."""
    from turtle_spark.plans.manifest import StageManifest
    from turtle_spark.sources.storage import read_subject

    spark = tracer.spark
    plain = StageManifest(plain_dir)

    def recompute():
        raise RuntimeError("a committed stage was recomputed instead of resumed")

    with tracer.span("manifest.resume", "manifest"):
        for stage in STAGES:
            plain.load_or_compute(spark, stage, fingerprint, recompute)
    table = plain.data_path("materialize")
    results = {}
    for s in subjects:
        with tracer.span("storage.lookup", "storage"):
            results[s] = read_subject(spark, table, s).collect()
    return results
