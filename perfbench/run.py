"""turtle-spark benchmark: one command per workload, seeded inputs.

    python3 perfbench/run.py --workload extract_dense --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  Each run starts one
``local[2]`` session through ``turtle_spark.session.get_spark`` and
drives it with a single closed-loop client: every job starts when the
previous one returns.  The workload's job is repeated for
``--seconds`` (at least ``min_jobs`` times) and reported as medians.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json, measured with
tracing off; with ``--trace 1`` they are the per-layer ones from a
separate traced run (see tracing.py).  Earlier stdout lines carry the
run's settings, host probes, correctness checks and spans as JSON.
The exit code is non-zero when a check fails or the program cannot
be imported.  perfbench/README.md describes workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pathlib
import random
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from statistics import median

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from corpus import CorpusSpec, generate, to_dataframe  # noqa: E402
from helpers import (  # noqa: E402
    RssSampler,
    cpu_times,
    min_samples,
    rows_digest,
    steal_pct,
    tail_percentile,
    timed,
    union_find_components,
)

CORES = 2
DRIVER_MEM = "2g"
CHECK_DOCS = 150  # doc subset compared against the in-process parser
CORE_DOCS = 200  # single-core no-Spark sample for core.* rates
LOOKUPS = min_samples(50)  # traced storage.lookup samples: 10 beyond the median
N_BUCKETS = 64  # storage.DEFAULT_BUCKETS, pinned so the check is independent


@dataclass(frozen=True)
class Workload:
    spec: CorpusSpec
    job: str  # "extract": extract_triples(docs).count(); "build": run_pipeline
    warm_docs: int
    min_jobs: int


WORKLOADS = {
    # Text-dense spans with almost no near-duplicate entities: the parser
    # and the Arrow boundary do nearly all the work and linking none.
    "extract_dense": Workload(
        CorpusSpec(
            docs=3000, entities=3000, statements=(6, 12), text_spans=(2, 4),
            literal_share=0.75, dup_share=0.02, media_share=0.1,
        ),
        job="extract", warm_docs=60, min_jobs=3,
    ),
    # Few statements per span, a third of mentions near-duplicates and a
    # third of spans media: linking, connected components and the stage
    # commits dominate, extraction is a small share.
    "kg_build": Workload(
        CorpusSpec(
            docs=2000, entities=1500, statements=(2, 5), text_spans=(1, 3),
            literal_share=0.35, dup_share=0.35, media_share=0.35,
        ),
        job="build", warm_docs=30, min_jobs=1,
    ),
}


class Run:
    """One benchmark run: its session, work directory and op counters."""

    def __init__(self, name: str, seed: int, trace: bool, seconds: float = 0.0):
        self.name = name
        self.workload = WORKLOADS[name]
        self.seed = seed
        self.trace = trace
        self.seconds = seconds
        self.work = ROOT / ".perfbench" / f"{name}-{seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, dict] = {}
        self.info: dict = {}
        self.spark = None

    # -- bookkeeping --------------------------------------------------------

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool, **detail) -> None:
        self.op(ok)
        self.checks[name] = {"ok": bool(ok), **detail}

    @property
    def fingerprint(self) -> str:
        return f"perfbench/{self.name}/{self.seed}"

    # -- session ------------------------------------------------------------

    def start_session(self):
        from turtle_spark.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # Python workers import turtle_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(tmp)
        # the launcher JVM that spark-submit starts first
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: otherwise the JVM's share of
            # peak_rss_mb follows GC timing and swings by a third per run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.trace:
            self.evlog = self.work / "eventlog"
            self.evlog.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.evlog),
                # the default codec is zstd and no zstandard module is installed
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.name}", cores=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        """Stop the session and its JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- the workload's job -------------------------------------------------

    def run_job(self, spark, docs, workdir: pathlib.Path) -> tuple[int, float]:
        """One job; returns (triples through it, wall seconds)."""
        from turtle_spark.operators.extract import extract_triples
        from turtle_spark.plans.pipeline import run_pipeline

        if self.workload.job == "extract":
            return timed(lambda: extract_triples(docs).count())
        res, dt = timed(lambda: run_pipeline(spark, docs, str(workdir), self.fingerprint))
        return res.metrics["extract"]["rows"], dt

    def warm_up(self, spark, rows) -> None:
        """A small-sample pass of the workload's job."""
        from turtle_spark.plans.pipeline import run_pipeline

        docs = to_dataframe(spark, rows[: self.workload.warm_docs])
        if self.workload.job == "extract":
            self.run_job(spark, docs, self.work / "warm")
        else:
            run_pipeline(spark, docs, str(self.work / "warm"), f"{self.fingerprint}/warm")

    def warm_pipeline(self, spark, rows) -> None:
        """Traced runs build the pipeline on every workload; warm its
        layers too, so the plain build and the sweep are both warm."""
        from turtle_spark.plans.pipeline import run_pipeline

        if self.workload.job != "build":
            docs = to_dataframe(spark, rows[: self.workload.warm_docs])
            run_pipeline(spark, docs, str(self.work / "warm-pipeline"), f"{self.fingerprint}/warm")

    # -- checks -------------------------------------------------------------

    def check_extraction(self, spark, rows, triples: int) -> None:
        """Spark output equals in-process parse_document on a doc subset;
        the total triple count equals the one recorded for the seed."""
        from turtle_spark.operators.extract import extract_triples

        sub = rows[:CHECK_DOCS]
        got = rows_digest(extract_triples(to_dataframe(spark, sub)).collect())
        want = rows_digest(in_process_rows(sub))
        self.check("extract_digest", got == want, docs=len(sub))
        expected, source = expected_value(self.name, self.seed, "triples")
        if expected is None:
            expected, source = sum(1 for _ in in_process_rows(rows)), "in-process"
        self.check("extract_count", triples == expected, got=triples, want=expected, source=source)

    def check_build(self, spark, workdir: pathlib.Path) -> None:
        """components == numpy union-find over the committed edges; every
        row in its subject's bucket; canonical digest as recorded."""
        from pyspark.sql import functions as F

        edges = spark.read.parquet(str(workdir / "edges" / "data")).toPandas()
        comps = spark.read.parquet(str(workdir / "components" / "data")).toPandas()
        nodes, comp = union_find_components(edges["src"].to_numpy(), edges["dst"].to_numpy())
        comps = comps.sort_values("node")
        self.check(
            "components_union_find",
            len(comps) == len(nodes)
            and (comps["node"].to_numpy() == nodes).all()
            and (comps["component"].to_numpy() == comp).all(),
            nodes=int(len(nodes)),
        )
        table = spark.read.parquet(str(workdir / "materialize" / "data"))
        misplaced = table.where(
            F.col("bucket") != F.pmod(F.xxhash64("subject"), F.lit(N_BUCKETS))
        ).count()
        self.check("bucket_placement", misplaced == 0, misplaced=misplaced)
        digest = table_digest(spark, workdir)
        expected, _ = expected_value(self.name, self.seed, "table_digest")
        self.check(
            "table_digest",
            expected is None or digest == expected,
            got=digest, want=expected or "unrecorded",
        )

    # -- runs ---------------------------------------------------------------

    def execute(self) -> dict:
        rows, gen_s = timed(lambda: generate(self.workload.spec, self.seed))
        self.info["input"] = {"docs": len(rows), "generate_s": round(gen_s, 3)}
        spark, start_s = timed(self.start_session)
        try:
            spark.sparkContext.setJobGroup("session", "warm-up")
            _, warm_s = timed(lambda: self.warm_up(spark, rows))
            spark.sparkContext.setJobGroup("input", "input preparation")
            docs = to_dataframe(spark, rows).cache()
            _, prep_s = timed(docs.count)
            self.info["input"]["prepare_s"] = round(prep_s, 3)
            if self.trace:
                return self.traced(spark, rows, docs, start_s, warm_s)
            return self.untraced(spark, rows, docs, start_s, warm_s)
        finally:
            self.stop_session()

    def untraced(self, spark, rows, docs, start_s, warm_s) -> dict:
        walls, counts = [], []
        deadline = time.perf_counter() + self.seconds
        while len(walls) < self.workload.min_jobs or time.perf_counter() < deadline:
            n, dt = self.run_job(spark, docs, self.work / f"job{len(walls)}")
            walls.append(dt)
            counts.append(n)
            self.op(n == counts[0])
        self.info["jobs"] = [{"triples": n, "wall_s": round(w, 4)} for n, w in zip(counts, walls)]
        if self.workload.job == "extract":
            self.check_extraction(spark, rows, counts[0])
        else:
            self.check_build(spark, self.work / "job0")
        return {
            "setup_s": (start_s + warm_s, "s"),
            "job_s": (median(walls), "s"),
            "triples_per_s": (median([n / w for n, w in zip(counts, walls)]), "1/s"),
        }

    def traced(self, spark, rows, docs, start_s, warm_s) -> dict:
        from tracing import (
            EVLOG_TASK_METRICS,
            LAYERS,
            STAGES,
            Tracer,
            fold_event_log,
            layered_sweep,
            resume_and_lookups,
        )
        from turtle_spark.operators.extract import extract_triples
        from turtle_spark.plans.pipeline import run_pipeline

        self.warm_pipeline(spark, rows)
        tracer = Tracer(spark)
        core = core_rates(rows[:CORE_DOCS])
        plain = self.work / "plain"
        spark.sparkContext.setJobGroup("pipeline", "plain extraction and build")
        n_pass, pass_s = timed(lambda: extract_triples(docs).count())
        res, build_s = timed(lambda: run_pipeline(spark, docs, str(plain), self.fingerprint))
        self.op(True)
        counts = layered_sweep(tracer, docs, str(plain), str(self.work / "traced"), self.fingerprint)
        rows_by_stage = counts["rows"]
        full = spark.read.parquet(str(plain / "materialize" / "data")).collect()
        by_subject: dict[str, list] = {}
        for r in full:
            by_subject.setdefault(r["subject"], []).append(r)
        subjects = random.Random(self.seed).sample(sorted(by_subject), LOOKUPS)
        found = resume_and_lookups(tracer, str(plain), self.fingerprint, subjects)
        wrong = [s for s, got in found.items() if rows_digest(got) != rows_digest(by_subject[s])]
        self.check("lookups_match_full_scan", not wrong, lookups=len(subjects), wrong=wrong)
        self.check_build(spark, plain)
        self.check_extraction(spark, rows, n_pass)
        self.stop_session()  # flushes the event log
        evlog = fold_event_log(self.evlog)

        t = tracer.seconds
        extract_s = t("extract")
        lookups = tracer.durations("storage.lookup")
        m = {
            "session.start_s": (start_s, "s"),
            "session.warm_s": (warm_s, "s"),
            "core.tokenize_tokens_per_s": (core["tokens_per_s"], "1/s"),
            "core.parse_triples_per_s": (core["triples_per_s"], "1/s"),
            "extract.wall_s": (extract_s, "s"),
            "extract.triples": (n_pass, "count"),
            "extract.efficiency": (n_pass / extract_s / (CORES * core["triples_per_s"]), "ratio"),
            "linking.terms": (rows_by_stage["terms"], "count"),
            "linking.terms_s": (t("linking.terms"), "s"),
            "linking.band_keys_s": (t("linking.band_keys"), "s"),
            "linking.candidates": (counts["candidates"], "count"),
            "linking.candidates_s": (t("linking.candidates"), "s"),
            "linking.edges": (rows_by_stage["edges"], "count"),
            "linking.verify_s": (t("linking.verify"), "s"),
            "linking.verify_yield": (rows_by_stage["edges"] / max(counts["candidates"], 1), "ratio"),
            "cc.wall_s": (t("cc"), "s"),
            "cc.edges_in": (rows_by_stage["edges"], "count"),
            "cc.nodes": (counts["cc_nodes"], "count"),
            "cc.components": (counts["cc_components"], "count"),
            "canonicalize.map_s": (t("canonicalize.map"), "s"),
            "canonicalize.rewrite_s": (t("canonicalize.rewrite"), "s"),
            "canonicalize.rows_in": (rows_by_stage["extract"], "count"),
            "canonicalize.rows_out": (rows_by_stage["canonical_triples"], "count"),
            "storage.materialize_s": (t("storage.materialize"), "s"),
            "storage.files": (counts["storage_files"], "count"),
            "storage.bytes": (counts["storage_bytes"], "bytes"),
            "storage.lookup_ms": (1000 * tail_percentile(lookups, 50)["value"], "ms"),
            "storage.lookups": (len(lookups), "count"),
            "manifest.commit_s": (sum(t(f"manifest.commit.{s}") for s in STAGES[:-1]), "s"),
            "manifest.resume_s": (t("manifest.resume"), "s"),
            "pipeline.build_s": (build_s, "s"),
            "pipeline.extract_pass_s": (pass_s, "s"),
            "trace.build_s": (t("build"), "s"),
            "trace.overhead_s": (t("build") - build_s, "s"),
            "trace.extract_overhead_s": (extract_s - pass_s, "s"),
        }
        for stage in STAGES:
            m[f"pipeline.stage.{stage}_s"] = (res.metrics[stage]["wall_s"], "s")
        # the Arrow boundary: extraction's MapInArrow node is the only
        # Python node in the "extract" job group
        for field in ["python_run_s", "python_init_s", "arrow_sent_bytes", "arrow_returned_bytes"]:
            m[f"extract.{field}"] = (
                evlog.get("extract", {}).get(field, 0.0), "bytes" if field.endswith("bytes") else "s"
            )
        for layer in LAYERS:
            rec = evlog.get(layer, {})
            for field in EVLOG_TASK_METRICS:
                m[f"{layer}.{field}"] = (rec.get(field, 0.0), "bytes" if field.endswith("bytes") else "s")
        self.info["spans"] = [
            {**s, "start": round(s["start"], 6), "end": round(s["end"], 6)} for s in tracer.spans
        ]
        self.info["self_s"] = {k: round(v, 4) for k, v in tracer.self_times().items()}
        self.info["evlog"] = evlog
        return m


def in_process_rows(rows):
    """extract_triples' rows for ``rows``, computed by the core parser
    alone, with one sanitize memo as one Spark task would use."""
    from turtle_spark.core.parser import parse_document

    memo: dict = {}
    for doc_id, spans in rows:
        for seq, triple in enumerate(parse_document(assembled_text(spans), san_memo=memo).triples):
            yield (doc_id, seq, *triple)


def assembled_text(spans) -> str:
    """A doc's text spans in offset order joined by newlines, as
    ``operators.extract.assembled_text_col`` builds it."""
    return "\n".join(t for k, t, _m, _o in sorted(spans, key=lambda s: s[3]) if k == "text")


def table_digest(spark, workdir: pathlib.Path) -> str:
    """Digest of the canonical table a build committed under ``workdir``.

    dedup_triples keeps an arbitrary (doc_id, seq) per duplicate triple,
    so the digest covers the six triple columns only."""
    cols = ["subject", "predicate", "object", "label", "datatype", "objecttype"]
    table = spark.read.parquet(str(workdir / "materialize" / "data"))
    return rows_digest(table.select(*cols).collect())


def core_rates(rows) -> dict:
    """Single-core, no-Spark tokenize and parse rates over ``rows``."""
    from turtle_spark.core.parser import parse_document
    from turtle_spark.core.tokenizer import tokenize_all

    texts = [assembled_text(spans) for _d, spans in rows]
    tok, par = [], []
    for _ in range(3):
        n, dt = timed(lambda: sum(len(tokenize_all(t)) for t in texts))
        tok.append(n / dt)
        memo: dict = {}
        n, dt = timed(lambda: sum(len(parse_document(t, san_memo=memo).triples) for t in texts))
        par.append(n / dt)
    return {"tokens_per_s": median(tok), "triples_per_s": median(par)}


def expected_value(workload: str, seed: int, key: str):
    """Value recorded for ``seed`` in expected.json, or (None, None)."""
    with open(HERE / "expected.json") as f:
        rec = json.load(f).get(workload, {}).get(str(seed))
    if rec is None or key not in rec:
        return None, None
    return rec[key], "recorded"


def host_info() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    return {
        "nproc": os.cpu_count(),
        "cores": CORES,
        "driver_memory": DRIVER_MEM,
        "commit": commit,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import turtle_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import turtle_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, bool(args.trace), args.seconds)
    cpu0 = cpu_times()
    try:
        with RssSampler() as rss:
            metrics = run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            run.work.parent.rmdir()  # only when no other run is using it
    if not args.trace:
        metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    run.info.update(host_info(), steal_pct=round(steal_pct(cpu0, cpu_times()), 2))
    run.info["checks"] = run.checks
    run.info["failed_ops_ratio"] = run.failed / max(run.attempted, 1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **run.info}, default=str))
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
