#!/usr/bin/env python3
"""Extraction benchmark: a transcripts table goes in; extracted text, spans
and lineage come out.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S [--trace 1]
    python3 perfbench/run.py --smoke

Run from the root of a checkout.  One closed-loop client submits one job at a
time, back to back, to ``local[<cpus>]``, in each of the two sessions a run
sets up.  Inputs are generated from
``--seed`` and cached under ``.bench_work/`` (see ``inputs.py``); outputs,
event logs and span files are written there too.  Every job's output is
checked against the ``core.extract.extract_one`` oracle after the clock
stops.  The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it (``#``) give
every figure with its unit and sample count and the input's properties.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` first times
untraced jobs in one session, then runs the workload once more in a second
session with the Spark event log on, replays the ``core`` layers
single-threaded over the same input, and reports the per-layer metrics
(listed with the end-to-end metric each should move in
``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import contextlib
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402  (the benchmark's own modules, next to this file)
import inputs  # noqa: E402
import procstat  # noqa: E402
import replay  # noqa: E402

WORKLOADS = {
    # name: (input table, job kind)
    "batch_mixed_unique": ("mixed", "batch"),
    "batch_short_pooled": ("pooled", "batch"),
    "checkpoint_resume": ("mixed", "checkpoint"),
}
END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "job_s": "s",
    "setup_s": "s",
    "py_rss_mb": "MB",
}
SETUPS = 2          # cold session set-ups per run; setup_s is their median
NOOP_RESUMES = 3    # no-op resumes per run; resume_noop_s is their median
MIN_JOBS = 3        # timed jobs per session even when --seconds is shorter
WARMUP_JOBS = 2     # untimed jobs of the workload after each set-up
SCANS = 3           # scan-only passes in the traced run
clock = time.perf_counter


# --------------------------------------------------------------------------
# small helpers
# --------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if not f.startswith(("_", ".")))
    return out


def parquet_files(path: str) -> list[str]:
    return sorted(f for f in data_files(path) if f.endswith(".parquet"))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


class Tracer:
    """Benchmark-side spans (name, start, end, parent, run id), kept in
    memory and written out at the end of a traced run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "id": f"{name}:{len(self.spans)}",
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def phase_seconds(self) -> dict[str, float]:
        """Total seconds per span name among the root span's children."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] == self.spans[0]["id"]:
                out[s["name"]] = round(out.get(s["name"], 0.0) + s["end"] - s["start"], 2)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark session: set-up, warm-up, shutdown
# --------------------------------------------------------------------------

def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, leave memory to
    the program's own defaults, and check that the program is there before
    anything starts."""
    if not os.path.isdir(os.path.join(ROOT, "document_extraction_spark")):
        sys.exit(f"perfbench: no document_extraction_spark package under {ROOT}; "
                 "run from the root of a full checkout")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_DRIVER_MEMORY", None)  # get_spark's default applies
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def spark_conf(event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    return conf


def warmup(spark, warm_src: str, cpus: int) -> None:
    """Full-width pass: ``cpus`` partitions through the extraction kernel,
    so every Python worker is spawned and has imported the package."""
    from document_extraction_spark.plans import extract_pipeline as P

    df = P.read_transcripts(spark, warm_src)
    P.build_extract_df(df, partitions=cpus).write.format("noop").mode("overwrite").save()


def start_session(cpus: int, warm_src: str, tracer: Tracer, event_log: str | None = None):
    """A cold set-up: launches a new JVM (the caller has shut the last one
    down), builds the session and runs the warm-up pass."""
    from document_extraction_spark import get_spark

    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            t0 = clock()
            spark = get_spark("perfbench", master=f"local[{cpus}]",
                              extra_conf=spark_conf(event_log))
            spark.sparkContext.setLogLevel("ERROR")
            t1 = clock()
        with tracer.span("session.warmup"):
            warmup(spark, warm_src, cpus)
            t2 = clock()
    return spark, t1 - t0, t2 - t1


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# jobs (each returns committed turns and its wall time)
# --------------------------------------------------------------------------

def checkpoint_defaults() -> tuple[int, int]:
    from document_extraction_spark.plans import checkpoint as C

    params = inspect.signature(C.run_resumable).parameters
    return params["n_buckets"].default, params["wave_size"].default


def batch_job(spark, src: str, dst: str) -> tuple[int, float]:
    from document_extraction_spark.plans import extract_pipeline as P

    t0 = clock()
    lineage = P.run(spark, src, dst).collect()
    return sum(r["n_turns"] for r in lineage), clock() - t0


def checkpoint_job(spark, src: str, dst: str, ckpt: str, run_id: str,
                   between=None) -> tuple[int, float]:
    """Cold run cut after half the waves, then a resume to completion.
    ``between`` runs untimed between the two calls."""
    from document_extraction_spark.plans import checkpoint as C

    n_buckets, wave_size = checkpoint_defaults()
    waves = -(-n_buckets // wave_size)
    t0 = clock()
    C.run_resumable(spark, src, dst, ckpt, run_id, max_waves=max(1, waves // 2))
    cold = clock() - t0
    if between is not None:
        between()
    t0 = clock()
    C.run_resumable(spark, src, dst, ckpt, run_id)
    turns = sum(r["n_turns"] for r in C.read_manifest(spark, ckpt).collect())
    return turns, cold + clock() - t0


def noop_resumes(spark, src: str, job_dir: str, tracer: Tracer) -> list[float]:
    """Time ``run_resumable`` over the complete checkpoint a checkpoint job
    left in ``job_dir``."""
    from document_extraction_spark.plans import checkpoint as C

    out = []
    for _ in range(NOOP_RESUMES):
        with tracer.span("resume_noop"):
            t0 = clock()
            C.run_resumable(spark, src, os.path.join(job_dir, "out"),
                            os.path.join(job_dir, "ckpt"), os.path.basename(job_dir))
            out.append(clock() - t0)
    return out


def warm_jobs(kind: str, spark, src: str, out_dir: str, tracer: Tracer) -> None:
    """Untimed jobs of the workload's own kind.  Job times fall over the
    first jobs of a fresh JVM while the JIT compiles the planner and the
    Arrow/parquet paths; keep those out of every timed job."""
    with tracer.span("warm_jobs"):
        for _ in range(WARMUP_JOBS):
            run_job(kind, spark, src, out_dir)


def timed_jobs(kind: str, spark, src: str, out_dir: str, seconds: float,
               tracer: Tracer) -> list[dict]:
    """The closed loop: jobs back to back for ``seconds`` (at least
    ``MIN_JOBS``), each with its wall time, turns and peak RSS."""
    samples = []
    deadline = clock() + seconds
    while len(samples) < MIN_JOBS or clock() < deadline:
        rec = {"dir": os.path.join(out_dir, f"job{len(samples)}")}
        try:
            with tracer.span("job"), procstat.PeakRss() as rss:
                rec["turns"], rec["job_s"] = run_job(kind, spark, src, rec["dir"])
            rec["rss_mb"] = (rss.peak / 1e6, rss.peak_jvm / 1e6, rss.peak_py / 1e6)
        except Exception:
            traceback.print_exc()
            rec["error"] = True
        samples.append(rec)
    return samples


def run_job(kind: str, spark, src: str, out_dir: str, between=None) -> tuple[int, float]:
    dst = fresh_dir(os.path.join(out_dir, "out"))
    if kind == "batch":
        return batch_job(spark, src, dst)
    ckpt = fresh_dir(os.path.join(out_dir, "ckpt"))
    return checkpoint_job(spark, src, dst, ckpt, os.path.basename(out_dir), between)


# --------------------------------------------------------------------------
# oracle check
# --------------------------------------------------------------------------

def output_checksum(out_dir: str) -> dict:
    import pyarrow.parquet as pq

    return inputs.checksum(pq.read_table(
        parquet_files(out_dir), columns=["conv_id", "turn_idx", "text", "spans"]))


def job_ok(sample: dict, check: dict, oracle: dict) -> bool:
    return (sample["turns"] == oracle["rows"]
            and check["rows"] == oracle["rows"]
            and check["keys"] == check["rows"]
            and check["checksum"] == oracle["checksum"])


def corrupt_one_row(out_dir: str) -> None:
    """Rewrite one output file with one row's text changed (smoke test)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = parquet_files(out_dir)[0]
    table = pq.read_table(path)
    texts = table.column("text").to_pylist()
    texts[0] = (texts[0] or "") + " corrupted"
    i = table.schema.get_field_index("text")
    pq.write_table(table.set_column(i, "text", pa.array(texts, pa.string())), path)


def keyed_compare(out_dir: str, oracle_dir: str) -> float:
    """Share of oracle rows whose key occurs once in the output with equal
    text and spans."""
    import pyarrow.parquet as pq

    cols = ["conv_id", "turn_idx", "text", "spans"]
    out = pq.read_table(parquet_files(out_dir), columns=cols).to_pylist()
    ref = pq.read_table(oracle_dir, columns=cols).to_pylist()
    seen: dict[tuple, dict | None] = {}
    for r in out:
        key = (r["conv_id"], int(r["turn_idx"]))
        seen[key] = None if key in seen else r
    equal = 0
    for r in ref:
        o = seen.get((r["conv_id"], int(r["turn_idx"])))
        if o is not None and o["text"] == r["text"] and o["spans"] == r["spans"]:
            equal += 1
    return equal / max(len(ref), 1)


# --------------------------------------------------------------------------
# one workload run
# --------------------------------------------------------------------------

def run_workload(args) -> dict:
    table, kind = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    tracer = Tracer(run_id)
    cache = os.path.join(WORK, "inputs")

    with tracer.span("run"):
        with tracer.span("input"):
            inp = inputs.ensure_input(cache, table, args.seed, args.size)
            warm = inputs.ensure_input(cache, "pooled", 0, "tiny")
        src = inp["data"]
        report = [f"workload={args.workload} seed={args.seed} trace={args.trace} "
                  f"clients=1 (closed loop) master=local[{cpus}] run_id={run_id}",
                  "input " + json.dumps({k: v for k, v in inp["meta"].items()
                                         if k != "oracle_check"}, sort_keys=True)]

        # --- set-ups, each in a new JVM, each followed by timed jobs ----------
        # Job times differ more from one JVM, and one stretch of a shared
        # host's time, to the next than from one job to the next, so the timed
        # jobs are spread over every session the run starts for setup_s.  A traced run's last set-up is the
        # event-log session's (in traced_run), so it times one session less.
        setups, samples = [], []
        spark = None
        steal = total = 0
        sessions = SETUPS - 1 if args.trace else SETUPS
        for i in range(sessions):
            if spark is not None:
                spark.stop()
                shutdown_jvm()
            spark, gs, wu = start_session(cpus, warm["data"], tracer)
            setups.append((gs, wu))
            warm_dir = os.path.join(run_dir, f"warm{i}")
            warm_jobs(kind, spark, src, warm_dir, tracer)
            steal0, total0 = procstat.host_cpu_ticks()
            samples += timed_jobs(kind, spark, src, os.path.join(run_dir, f"s{i}"),
                                  args.seconds / sessions, tracer)
            steal1, total1 = procstat.host_cpu_ticks()
            steal, total = steal + steal1 - steal0, total + total1 - total0
        steal_frac = steal / max(total, 1)

        # --- checkpoint_resume: no-op resumes over the warm job's checkpoint -
        noops = []
        if kind == "checkpoint" and not args.trace:
            noops = noop_resumes(spark, src, warm_dir, tracer)

        # --- oracle check, after the clock -----------------------------------
        if args.corrupt:
            corrupt_one_row(os.path.join(samples[0]["dir"], "out"))
        with tracer.span("check"):
            for s in samples:
                s["ok"] = not s.get("error") and job_ok(
                    s, output_checksum(os.path.join(s["dir"], "out")), inp["meta"]["oracle_check"])
        good = [s for s in samples if s["ok"]] or [s for s in samples if "job_s" in s]

        if args.trace:
            layers, equal_frac, traced_setup = traced_run(
                spark, kind, inp, warm, cpus, tracer, run_dir,
                median([s["job_s"] for s in good]),
                median([s["turns"] / s["job_s"] for s in good]))
            spark = None
            setups.append(traced_setup)

        e2e = {
            "turns_per_s": [s["turns"] / s["job_s"] for s in good],
            "job_s": [s["job_s"] for s in good],
            "setup_s": [gs + wu for gs, wu in setups],
            "py_rss_mb": [s["rss_mb"][2] for s in good],
            # the JVM's share moves by a fifth from run to run with the
            # collector's heap sizing, so these two are reported, not bounded
            "peak_rss_mb": [s["rss_mb"][0] for s in good],
            "jvm_rss_mb": [s["rss_mb"][1] for s in good],
        }
        attempted = len(samples)
        failed = sum(not s["ok"] for s in samples)
        correct = failed == 0
        for name, unit in [*END_TO_END_UNITS.items(), ("peak_rss_mb", "MB"), ("jvm_rss_mb", "MB")]:
            xs = e2e[name]
            report.append(f"{name} {median(xs):.6g} {unit} (median of n={len(xs)}: "
                          + " ".join(f"{x:.4g}" for x in xs) + ")")
        if noops:
            report.append(f"resume_noop_s {median(noops):.6g} s (median of n={len(noops)}: "
                          + " ".join(f"{x:.4g}" for x in noops) + ")")
        report.append(f"failed_frac {failed / attempted:.6g} frac (failed {failed} of "
                      f"n={attempted} jobs)")
        report.append(f"host_steal_frac {steal_frac:.3g} frac (CPU time the hypervisor "
                      "took during the timed jobs)")

        if args.trace:
            layers["session.get_spark_s"] = median([gs for gs, _ in setups])
            layers["session.warmup_s"] = median([wu for _, wu in setups])
            layers["session.peak_rss_mb"] = median(e2e["peak_rss_mb"])
            layers["session.jvm_rss_mb"] = median(e2e["jvm_rss_mb"])
            report.append(f"text_equal_frac {equal_frac:.6g} frac (n=1 traced job, "
                          "full keyed row comparison)")
            attempted += 1
            if equal_frac != 1.0:
                failed += 1
                correct = False
            metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {n: {"value": median(e2e[n]), "unit": u}
                       for n, u in END_TO_END_UNITS.items()}

        with tracer.span("shutdown"):
            if spark is not None:
                spark.stop()
            shutdown_jvm()
    if args.trace:
        trace_dir = os.path.join(WORK, "trace", run_id)
        tracer.write(os.path.join(trace_dir, "spans.jsonl"))
        report.append(f"spans {os.path.relpath(os.path.join(trace_dir, 'spans.jsonl'), ROOT)}")
        for name, m in metrics.items():
            report.append(f"{name} {m['value']:.6g} {m['unit']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # the JVM and the Python workers are gone; drop what they left in TMPDIR
    # (get_spark stages a package zip there on every call)
    for name in os.listdir(os.environ["TMPDIR"]):
        shutil.rmtree(os.path.join(os.environ["TMPDIR"], name), ignore_errors=True)
    print("perfbench: seconds per phase " + json.dumps(tracer.phase_seconds()), file=sys.stderr)
    for line in report:
        print("# " + line)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


# --------------------------------------------------------------------------
# traced run
# --------------------------------------------------------------------------

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "session.jvm_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.bytes_read": "B",
    "sources.scan_time_s": "s",
    "core.classify.busy_s": "s",
    "core.classify.html_turns": "count",
    "core.classify.pdf_turns": "count",
    "core.classify.plain_turns": "count",
    "core.html_strip.busy_s": "s",
    "core.html_strip.turns": "count",
    "core.html_strip.kb_in": "KB",
    "core.html_strip.us_per_kb": "us/KB",
    "core.html_strip.blocks_kept": "count",
    "core.html_strip.blocks_dropped": "count",
    "core.pdf_layout.busy_s": "s",
    "core.pdf_layout.turns": "count",
    "core.pdf_layout.kb_in": "KB",
    "core.pdf_layout.us_per_kb": "us/KB",
    "core.normalize.busy_s": "s",
    "core.normalize.turns": "count",
    "core.extract.busy_s": "s",
    "core.extract.turns_per_core_s": "turns/s",
    "core.extract.bookkeeping_s": "s",
    "core.extract.parse_failed": "count",
    "core.extract.distinct_payload_frac": "frac",
    "plans.extract_pipeline.tasks": "count",
    "plans.extract_pipeline.task_s_p50": "s",
    "plans.extract_pipeline.task_s_max": "s",
    "plans.extract_pipeline.skew_ratio": "ratio",
    "plans.extract_pipeline.py_run_s": "s",
    "plans.extract_pipeline.py_start_s": "s",
    "plans.extract_pipeline.arrow_mb_to_py": "MB",
    "plans.extract_pipeline.arrow_mb_from_py": "MB",
    "plans.extract_pipeline.executor_cpu_s": "s",
    "plans.extract_pipeline.gc_s": "s",
    "plans.extract_pipeline.cpu_util": "frac",
    "plans.extract_pipeline.bytes_written": "B",
    "plans.extract_pipeline.files_written": "count",
    "plans.extract_pipeline.write_s": "s",
    "plans.extract_pipeline.parallel_efficiency": "frac",
    "plans.checkpoint.spark_jobs": "count",
    "plans.checkpoint.waves": "count",
    "plans.checkpoint.read_amplification": "ratio",
    "plans.checkpoint.files_written": "count",
    "plans.checkpoint.manifest_files": "count",
    "plans.checkpoint.pending_s": "s",
    "plans.checkpoint.useful_frac": "frac",
    "plans.checkpoint.resume_noop_s": "s",
    "trace.overhead_s": "s",
    "oracle.text_equal_frac": "frac",
}


def traced_run(spark, kind, inp, warm, cpus, tracer, run_dir,
               untraced_job_s, untraced_turns_per_s):
    """Re-run the workload in a new session with the event log on; returns
    (per-layer metrics, text_equal_frac, that session's (get_spark, warm-up)
    seconds).  Stops the session it is given."""
    import pyarrow.parquet as pq
    from document_extraction_spark.plans import checkpoint as C
    from document_extraction_spark.plans import extract_pipeline as P

    src = inp["data"]
    trace_dir = os.path.join(WORK, "trace", tracer.run_id)
    log_dir = os.path.join(trace_dir, "eventlog")
    spark.stop()
    shutdown_jvm()
    spark, gs, wu = start_session(cpus, warm["data"], tracer, event_log=log_dir)
    sc = spark.sparkContext
    sc.setJobGroup("warm", "untimed jobs")
    warm_jobs(kind, spark, src, os.path.join(run_dir, "traced_warm"), tracer)
    m: dict[str, float] = {}
    n_buckets, _ = checkpoint_defaults()

    with tracer.span("traced"):
        sc.setJobGroup("scan", "scan-only pass")
        scans = []
        for _ in range(SCANS):
            with tracer.span("sources.scan"):
                t0 = clock()
                P.read_transcripts(spark, src).write.format("noop").mode("overwrite").save()
                scans.append(clock() - t0)
        m["sources.scan_s"] = median(scans)

        pending = []

        def probe(ckpt: str, group: str):
            """Time pending_buckets on the half-done checkpoint, outside job_s."""
            def run_probe():
                sc.setJobGroup("pending", "pending_buckets probe")
                with tracer.span("plans.checkpoint.pending"):
                    t0 = clock()
                    C.pending_buckets(spark, ckpt, n_buckets)
                    pending.append(clock() - t0)
                sc.setJobGroup(group, "checkpointed run")
            return run_probe

        job_dir = os.path.join(run_dir, "traced_job")
        sc.setJobGroup("job", "workload job")
        cpu0 = procstat.tree_cpu_s()
        with tracer.span("traced_job") as job_span:
            _, job_s = run_job(kind, spark, src, job_dir,
                               between=probe(os.path.join(job_dir, "ckpt"), "job"))
        cpu_s = procstat.tree_cpu_s() - cpu0
        ckpt_dir, ckpt_group = job_dir, "job"
        if kind == "batch":
            ckpt_dir, ckpt_group = os.path.join(run_dir, "traced_ckpt"), "ckpt"
            sc.setJobGroup("ckpt", "checkpointed run")
            with tracer.span("traced_checkpoint"):
                run_job("checkpoint", spark, src, ckpt_dir,
                        between=probe(os.path.join(ckpt_dir, "ckpt"), "ckpt"))
        sc.setJobGroup("noop", "no-op resumes")
        m["plans.checkpoint.resume_noop_s"] = median(noop_resumes(spark, src, ckpt_dir, tracer))
        sc.setJobGroup("done", "")
    spark.stop()
    shutdown_jvm()

    log = eventlog.EventLog(log_dir)
    g = log.group("job")
    # the input scan only: run() also reads its output back for the lineage
    kernel_ex = g.kernel_executions()
    m["sources.bytes_read"] = g.sql_metric("size of files read", executions=kernel_ex)
    m["sources.scan_time_s"] = g.sql_metric("scan time", executions=kernel_ex)
    kernel = sorted(t["end"] - t["start"] for t in g.kernel_tasks())
    p50 = statistics.median(kernel) if kernel else 0.0
    m["plans.extract_pipeline.tasks"] = len(kernel)
    m["plans.extract_pipeline.task_s_p50"] = p50
    m["plans.extract_pipeline.task_s_max"] = kernel[-1] if kernel else 0.0
    m["plans.extract_pipeline.skew_ratio"] = kernel[-1] / p50 if p50 else 0.0
    m["plans.extract_pipeline.py_run_s"] = g.sql_metric("time to run Python workers")
    m["plans.extract_pipeline.py_start_s"] = (g.sql_metric("time to start Python workers")
                                              + g.sql_metric("time to initialize Python workers"))
    m["plans.extract_pipeline.arrow_mb_to_py"] = g.sql_metric("data sent to Python workers") / 1e6
    m["plans.extract_pipeline.arrow_mb_from_py"] = (
        g.sql_metric("data returned from Python workers") / 1e6)
    m["plans.extract_pipeline.executor_cpu_s"] = g.task_sum("cpu_s")
    m["plans.extract_pipeline.gc_s"] = g.task_sum("gc_s")
    m["plans.extract_pipeline.cpu_util"] = cpu_s / (job_s * cpus)
    m["plans.extract_pipeline.bytes_written"] = g.task_sum("bytes_written")
    m["plans.extract_pipeline.files_written"] = len(data_files(os.path.join(job_dir, "out")))
    m["plans.extract_pipeline.write_s"] = (g.sql_metric("task commit time")
                                           + g.sql_metric("job commit time"))

    gc_ = log.group(ckpt_group)
    input_bytes = sum(os.path.getsize(f) for f in data_files(src))
    manifest = os.path.join(ckpt_dir, "ckpt")
    kernel_rows = gc_.sql_metric("number of output rows", node="MapInPandas")
    committed = pq.read_table(parquet_files(manifest), columns=["n_turns", "committed_at"])
    n_committed = sum(committed.column("n_turns").to_pylist())
    m["plans.checkpoint.spark_jobs"] = len(gc_.jobs)
    # every bucket of a wave is committed with the wave's timestamp
    m["plans.checkpoint.waves"] = len(set(committed.column("committed_at").to_pylist()))
    m["plans.checkpoint.read_amplification"] = gc_.sql_metric("size of files read") / input_bytes
    m["plans.checkpoint.files_written"] = len(data_files(os.path.join(ckpt_dir, "out")))
    m["plans.checkpoint.manifest_files"] = len(parquet_files(manifest))
    m["plans.checkpoint.pending_s"] = median(pending)
    m["plans.checkpoint.useful_frac"] = n_committed / kernel_rows if kernel_rows else 0.0
    m["trace.overhead_s"] = job_s - untraced_job_s

    with tracer.span("core.replay") as replay_span:
        core, core_spans = replay.replay(src, tracer.run_id, replay_span)
    m.update(core)
    m["plans.extract_pipeline.parallel_efficiency"] = (
        untraced_turns_per_s / (cpus * core["core.extract.turns_per_core_s"]))

    with tracer.span("oracle.keyed_compare"):
        equal_frac = keyed_compare(os.path.join(job_dir, "out"), inp["oracle"])
    m["oracle.text_equal_frac"] = equal_frac

    tracer.spans.extend(g.spans(job_span, tracer.run_id))
    tracer.spans.extend(core_spans)
    return m, equal_frac, (gs, wu)


# --------------------------------------------------------------------------
# all workloads / smoke test
# --------------------------------------------------------------------------

def run_all(args) -> dict:
    """Each workload in its own process (its own JVM); one combined result."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        if args.corrupt:
            cmd.append("--corrupt")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"workload {w} exited with {proc.returncode}")
        for line in lines[:-1]:
            print(f"{line[:2]}[{w}] {line[2:]}" if line.startswith("# ") else line)
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    return total


def smoke() -> int:
    """The benchmark's own test, at tiny size: every metric in BENCHMARK.json
    is printed with its unit for every workload, the oracle passes on the
    current program, and a corrupted output row is counted as a failed job."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        if set(want) != set(END_TO_END_UNITS if trace == 0 else PER_LAYER_UNITS):
            problems.append(f"BENCHMARK.json {key} names differ from run.py's")
        res = run_all(argparse.Namespace(seed=1, seconds=1, trace=trace, size="tiny",
                                         corrupt=False))
        if not res["correct"] or res["failed"]:
            problems.append(f"trace={trace}: incorrect result {res['failed']} failed")
        for w in WORKLOADS:
            for name, unit in want.items():
                got = res["metrics"].get(f"{w}.{name}")
                if got is None or got["unit"] != unit or not isinstance(got["value"], (int, float)):
                    problems.append(f"trace={trace} {w}: metric {name} missing or wrong unit")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", "batch_short_pooled",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--size", "tiny", "--corrupt"],
        stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
    frac = [ln for ln in lines if ln.startswith("# failed_frac ")]
    if res.get("correct", True) or res.get("failed", 0) < 1 or not frac \
            or float(frac[0].split()[2]) <= 0:
        problems.append("a corrupted output row was not counted in failed_frac")
    for p in problems:
        print("smoke: " + p, file=sys.stderr)
    print("smoke: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output row before the check (smoke test)")
    ap.add_argument("--smoke", action="store_true", help="run the benchmark's own test")
    args = ap.parse_args()
    prepare_env()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    result = run_all(args) if args.workload == "all" else run_workload(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
