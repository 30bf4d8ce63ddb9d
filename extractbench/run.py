"""Benchmark of the extraction job, end to end and layer by layer.

    python3 extractbench/run.py --workload job_default --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run starts Spark on local[nproc] in
this process, prepares the seed's pages, warms up, then times calls of
the workload for ``--seconds`` (at least its ``min_calls``) and checks
every timed call's rows. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's provenance and detail. ``--trace 0`` reports the
end-to-end metrics from /proc counters alone; ``--trace 1`` reports the
per-layer metrics (see trace.py) and installs wrappers only then.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    # run as a script: import this directory as the extractbench
    # package, so its module names cannot shadow the standard library
    sys.path[0] = ROOT

from extractbench.procstat import adopt_orphans  # noqa: E402
from extractbench.trace import COUNTS, KERNELS  # noqa: E402

# warm-up stops once per-call JVM CPU has stopped falling: none of the
# last PLATEAU_CALLS calls' JVM CPU is more than PLATEAU below the lowest
# JVM CPU of the calls before them (the JVM's own CPU, not the tree's).
# No warm-up call starts that would end past the workload's
# warmup_cap_s; a run that reaches the cap first says so in its detail
# line ("warmup_plateau": false).
PLATEAU_CALLS = 3
PLATEAU = 0.05
# the traced replay's kernel self times must add up to its measured CPU
CLOSURE_TOL = 0.05
# plain + spanned call pairs per traced window, however short --seconds is
TRACED_PAIRS = 2


def package_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ragflow_ocr_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # a checkout without git metadata
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class JobDefault:
    """``run_extract_job`` at the jobs/extract.py defaults into a fresh
    root per call, over one bucket group of FIXTURES-mix pages."""

    # calls per timed window, however short --seconds is
    min_calls = 3
    # on a 4-vCPU VM the JVM's CPU per call fell from 21 s to 4.2 s over
    # the first 35 s of calls, to 3.8 s by 45 s and to a plateau near
    # 3.3 s by 60 s; the cap keeps a run within its time budget
    warmup_cap_s = 45.0

    def __init__(self, spark, seed: int, work: str, nproc: int):
        from extractbench import corpus

        self.spark = spark
        self.pages = corpus.job_pages(spark, seed)
        self.input = os.path.join(work, "input")
        spark.createDataFrame(self.pages[corpus.PAGE_COLUMNS]).write.parquet(self.input)
        self.out = os.path.join(work, "out")

    def call(self, tag: str) -> str:
        from extractbench import corpus
        from ragflow_ocr_spark.spark.pipeline import run_extract_job

        root = f"{self.out}/{tag}"
        summary = run_extract_job(
            self.spark, self.spark.read.parquet(self.input), root,
            n_buckets=corpus.N_BUCKETS, bucket_group_size=corpus.GROUP_SIZE,
        )
        if summary["buckets_processed"] != corpus.GROUP_SIZE:
            raise RuntimeError(f"expected one bucket group, got {summary}")
        return root

    def rows(self, root: str):
        from ragflow_ocr_spark.spark.pipeline import read_extracted

        out = read_extracted(self.spark, root).select("url", "extracted_text", "status")
        return [tuple(r) for r in out.collect()]

    def files(self, root: str) -> dict[str, tuple[int, int]]:
        from extractbench.trace import tree_size

        return {
            "extracted": tree_size(os.path.join(root, "extracted")),
            "checkpoint": tree_size(os.path.join(root, "checkpoint")),
        }

    def cleanup(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)


class ExtractOcr:
    """``extract(pages)`` collected to the driver, over page images and
    PDFs written as 2 x nproc parquet files, which must read as at
    least nproc input splits so that every core gets a task."""

    # on a shared 4-vCPU VM, CPU speed swung by up to 20% over tens of
    # seconds; these calls are almost all worker compute, so a longer
    # window averages more of that out
    min_calls = 5
    # the JVM does about a tenth of these calls' CPU
    warmup_cap_s = 10.0

    def __init__(self, spark, seed: int, work: str, nproc: int):
        from extractbench import corpus

        self.spark = spark
        self.pages = corpus.ocr_pages(seed)
        self.input = os.path.join(work, "input")
        df = spark.createDataFrame(self.pages[corpus.PAGE_COLUMNS])
        df.repartition(2 * nproc).write.parquet(self.input)
        self.input_partitions = spark.read.parquet(self.input).rdd.getNumPartitions()
        if self.input_partitions < nproc:
            raise RuntimeError(
                f"input reads as {self.input_partitions} partitions on {nproc} cores"
            )

    def call(self, tag: str):
        from ragflow_ocr_spark.spark.pipeline import extract

        return extract(self.spark.read.parquet(self.input)).collect()

    def rows(self, out):
        return [(r["url"], r["extracted_text"], r["status"]) for r in out]

    def files(self, out) -> dict[str, tuple[int, int]]:
        return {"extracted": (0, 0), "checkpoint": (0, 0)}

    def cleanup(self, out) -> None:
        pass


WORKLOADS = {"job_default": JobDefault, "extract_ocr": ExtractOcr}


def start_spark(work: str, nproc: int):
    from ragflow_ocr_spark.spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="extractbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


class Calls:
    """Per-call wall time and process-tree CPU deltas."""

    def __init__(self, tree):
        self.tree = tree
        self.wall: list[float] = []
        self.cpu = []  # TreeCpu deltas

    def run(self, fn, *args):
        c0 = self.tree.cpu()
        t0 = time.monotonic()
        out = fn(*args)
        self.wall.append(time.monotonic() - t0)
        self.cpu.append(self.tree.cpu() - c0)
        return out

    def series(self) -> dict:
        return {
            "wall_s": self.wall,
            "jvm_cpu_s": [c.jvm for c in self.cpu],
            "worker_cpu_s": [c.workers for c in self.cpu],
            "driver_cpu_s": [c.driver for c in self.cpu],
        }

    def median(self, attr: str) -> float:
        return statistics.median(getattr(c, attr) for c in self.cpu)


def warm_up(calls: Calls, workload) -> bool:
    """Untimed calls until per-call JVM CPU stops falling. Returns
    whether that plateau was reached within the workload's cap."""
    t0 = time.monotonic()
    i = 0
    while True:
        workload.cleanup(calls.run(workload.call, f"w{i}"))
        i += 1
        jvm = [c.jvm for c in calls.cpu]
        if len(jvm) > PLATEAU_CALLS:
            earlier = min(jvm[:-PLATEAU_CALLS])
            if min(jvm[-PLATEAU_CALLS:]) >= (1.0 - PLATEAU) * earlier:
                return True
        if time.monotonic() - t0 + calls.wall[-1] > workload.warmup_cap_s:
            return False


class Checked:
    """Runs calls whose rows are checked after each call's timed window
    closes, and counts what was attempted and what failed."""

    def __init__(self, expected, tree):
        self.expected = expected
        self.tree = tree
        self.attempted = 0
        self.failed = 0
        self.bad: list[str] = []
        self.worker_peak_mb = 0.0

    def call(self, calls: Calls, workload, tag: str, on_output=None) -> None:
        self.attempted += 1
        try:
            out = calls.run(workload.call, tag)
        except Exception as e:  # a raised call is a failed call
            self.failed += 1
            self.bad.append(f"raised {type(e).__name__}: {e}"[:300])
            return
        self.worker_peak_mb = max(self.worker_peak_mb, self.tree.worker_peak_rss_mb())
        if on_output is not None:
            on_output(out)
        bad = self.expected.mismatches(workload.rows(out))
        workload.cleanup(out)
        if bad:
            self.failed += 1
            self.bad.extend(bad[:5])


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def declared_names(trace: int) -> set[str]:
    """The metric names BENCHMARK.json declares for a run of ``--trace``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    return {m["name"] for m in declared["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ragflow_ocr_spark")):
        print(f"ragflow_ocr_spark/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # keep Spark's and Python's scratch files inside the checkout (the
    # launcher JVM would otherwise write its perf data under /tmp)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    adopt_orphans()
    # a SIGTERM takes the same way out as an error, through stop_processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, nproc, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def stop_processes() -> None:
    """Ends the JVM this run launched, the Python workers below it and
    any other process below this one, and waits until each has ended.
    Spark itself is stopped by then, or never started."""
    from extractbench.procstat import end_descendants

    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            # the gateway JVM exits, running its shutdown hooks, once its
            # stdin closes; its Python worker daemon exits with it
            proc.stdin.close()
    left = end_descendants(grace_s=30.0)
    if left:
        print(f"processes outlived SIGKILL: {sorted(left)}", file=sys.stderr)


def run(args, nproc: int, work: str) -> int:
    import numpy
    import pyspark

    from extractbench import corpus
    from extractbench.procstat import ProcessTree, host_probe_ms, host_steal
    from ragflow_ocr_spark.spark.pipeline import extract

    warm = corpus.warmup_pages(args.seed, nproc)
    t0 = time.monotonic()
    spark = start_spark(work, nproc)
    try:
        rows = extract(spark.createDataFrame(warm[corpus.PAGE_COLUMNS])).collect()
        setup_s = time.monotonic() - t0
        setup_bad = corpus.Expected(warm).mismatches(
            (r["url"], r["extracted_text"], r["status"]) for r in rows
        )
        tree = ProcessTree()
        workload = WORKLOADS[args.workload](spark, args.seed, work, nproc)
        docs = len(workload.pages)
        expected = corpus.Expected(workload.pages)
        phases = {"setup": setup_s, "prepare": time.monotonic() - t0 - setup_s}
        steal0 = host_steal()
        probe0 = host_probe_ms()

        checked = Checked(expected, tree)
        if setup_bad:
            checked.failed += 1
            checked.bad.extend(setup_bad[:5])
        warmup = Calls(tree)
        t1 = time.monotonic()
        plateau = warm_up(warmup, workload)
        phases["warmup"] = time.monotonic() - t1
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "git_commit": git_commit(),
            "package_sha256": package_hash(),
            "python": sys.version.split()[0],
            "spark": pyspark.__version__,
            "numpy": numpy.__version__,
            "docs_per_call": docs,
            "input_partitions": getattr(workload, "input_partitions", None),
            "warmup_calls": len(warmup.wall),
            "warmup_plateau": plateau,
            "warmup": warmup.series(),
            "phases_s": phases,
        }
        metrics = {}
        t1 = time.monotonic()
        if args.trace:
            metrics, trace_ok = traced(spark, workload, checked, tree, args, docs,
                                       nproc, detail)
            if not trace_ok:
                checked.failed += 1
        else:
            calls = Calls(tree)
            while (checked.attempted < workload.min_calls
                   or time.monotonic() - t1 < args.seconds):
                checked.call(calls, workload, f"t{checked.attempted}")
                if checked.failed:
                    break
            if calls.wall:
                metrics = end_to_end_metrics(docs, calls, checked.worker_peak_mb, setup_s)
            detail["timed"] = calls.series()
            detail["call_s"] = {
                "median": statistics.median(calls.wall) if calls.wall else None,
                "max": max(calls.wall, default=None),
                "n": len(calls.wall),
            }
        phases["timed"] = time.monotonic() - t1
        steal1 = host_steal()
        # share of the host's CPU ticks stolen from this VM from the
        # end of set-up on: a witness of the host's phase
        detail["host_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        # the same fixed loop's CPU before the warm-up and after the
        # timed window: a witness that does not depend on the program
        detail["host_probe_ms"] = [probe0, host_probe_ms()]
        if metrics and set(metrics) != declared_names(args.trace):
            checked.failed += 1
            checked.bad.append(f"metric names differ from BENCHMARK.json: {sorted(metrics)}")
        detail["mismatches"] = checked.bad[:10]
    finally:
        spark.stop()
    print(json.dumps({"detail": detail}))
    correct = checked.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": checked.attempted,
        "failed": checked.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


class JobGroups:
    """Runs a workload's calls each under its own Spark job group, so
    the REST API's jobs can be told apart by call."""

    def __init__(self, workload, sc):
        self.workload = workload
        self.sc = sc
        self.windows: list[tuple[str, float, float]] = []
        self.rows = workload.rows
        self.cleanup = workload.cleanup

    def call(self, tag: str):
        group = f"extractbench-{tag}"
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        t0 = time.time()
        try:
            return self.workload.call(tag)
        finally:
            self.windows.append((group, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def traced(spark, workload, checked: Checked, tree, args, docs, nproc, detail):
    """The traced window and the kernel replay. Plain and spanned calls
    alternate, so both see the same JIT state; the plain calls give the
    /proc-based layer numbers and the base of trace.overhead_frac.
    Returns the per-layer metrics and whether the trace's own checks
    passed."""
    from extractbench import trace

    status = trace.SparkStatus(spark.sparkContext)
    tracer = trace.Tracer()
    grouped = JobGroups(workload, spark.sparkContext)
    plain, spanned = Calls(tree), Calls(tree)
    sizes = []
    t0 = time.monotonic()
    while (len(spanned.wall) < TRACED_PAIRS
           or time.monotonic() - t0 < args.seconds):
        i = checked.attempted
        checked.call(plain, workload, f"p{i}")
        trace.wrap_spark_layers(tracer)
        try:
            checked.call(spanned, grouped, f"s{i}",
                         on_output=lambda out: sizes.append(workload.files(out)))
        finally:
            tracer.unwrap()
        if checked.failed:
            break
    per_call = status.calls([g for g, _, _ in grouped.windows])
    spark_rows = [
        trace.spark_layers(per_call[g], tracer.spans, t0, t1, status)
        for g, t0, t1 in grouped.windows
    ]
    replay = trace.replay_kernels(list(workload.pages["html"]))
    replay_bad = [
        u for u, t in zip(workload.pages["url"], replay.texts)
        if t != checked.expected.text[u]
    ]
    spans_path = os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json")
    trace.dump_spans(spans_path, {"spark": tracer.spans, "replay": replay.spans})
    detail["trace"] = {
        "plain": plain.series(),
        "spanned": spanned.series(),
        "replay_cpu_s": replay.cpu_s,
        "replay_mismatches": replay_bad[:10],
        "closure_error": replay.closure_error(),
        "per_call": spark_rows,
        "spans_file": os.path.relpath(spans_path, ROOT),
    }
    ok = not replay_bad and replay.closure_error() <= CLOSURE_TOL
    if not spark_rows:
        return {}, False
    return layer_metrics(spark_rows, sizes, plain, spanned, replay, docs, nproc,
                         tree.jvm_peak_rss_mb()), ok


END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_ms_per_doc": "ms",
    "worker_peak_rss_mb": "MiB",
    "setup_s": "s",
}

LAYER_UNITS = {
    "pipeline.spark_jobs": "count",
    "pipeline.plan_s": "s",
    "pipeline.spread_sample_s": "s",
    "pipeline.group_write_s": "s",
    "pipeline.readback_s": "s",
    "pipeline.driver_gap_s": "s",
    "pipeline.output_files": "count",
    "pipeline.output_bytes": "bytes",
    "jvm.cpu_ms_per_doc": "ms",
    "jvm.peak_rss_mb": "MiB",
    "checkpoint.done_buckets_s": "s",
    "checkpoint.mark_done_s": "s",
    "checkpoint.files": "count",
    "checkpoint.bytes": "bytes",
    "stages.tasks": "count",
    "stages.task_s.p50": "s",
    "stages.task_s.max": "s",
    "stages.tail_ratio": "ratio",
    "stages.shuffle_bytes": "bytes",
    "stages.spill_bytes": "bytes",
    "stages.worker_cpu_ms_per_doc": "ms",
    "stages.overhead_ms_per_doc": "ms",
    "stages.core_util": "ratio",
    **{f"kernels.{k}": "ms" for k in KERNELS + ("other",)},
    **{f"kernels.{k}_per_doc": "count" for k in COUNTS},
    "trace.overhead_frac": "ratio",
}


def end_to_end_metrics(docs: int, calls: Calls, worker_peak_mb: float,
                       setup_s: float) -> dict:
    values = {
        "docs_per_s": docs / statistics.median(calls.wall),
        "cpu_ms_per_doc": 1000 * calls.median("total") / docs,
        "worker_peak_rss_mb": worker_peak_mb,
        "setup_s": setup_s,
    }
    return {k: metric(v, END_TO_END_UNITS[k]) for k, v in values.items()}


def layer_metrics(spark_rows: list[dict], sizes: list[dict], untraced: Calls,
                  traced_calls: Calls, replay, docs: int, nproc: int,
                  jvm_peak_mb: float) -> dict:
    """Per-layer metrics: medians over the traced calls for spans, REST
    numbers and output sizes; /proc numbers from the untraced calls;
    kernel CPU per doc from the replay (see trace.py)."""
    values = {k: statistics.median(r[k] for r in spark_rows) for k in spark_rows[0]}
    for key, part, i in (
        ("pipeline.output_files", "extracted", 0),
        ("pipeline.output_bytes", "extracted", 1),
        ("checkpoint.files", "checkpoint", 0),
        ("checkpoint.bytes", "checkpoint", 1),
    ):
        values[key] = float(statistics.median(s[part][i] for s in sizes))
    worker_ms = 1000 * untraced.median("workers") / docs
    values.update({
        "jvm.cpu_ms_per_doc": 1000 * untraced.median("jvm") / docs,
        "jvm.peak_rss_mb": jvm_peak_mb,
        "stages.worker_cpu_ms_per_doc": worker_ms,
        # worker CPU the kernels do not explain: Arrow transfer,
        # pandas frames, the stage loop, worker start-up
        "stages.overhead_ms_per_doc": worker_ms - 1000 * replay.cpu_s / docs,
        "stages.core_util": statistics.median(
            c.total / (w * nproc) for c, w in zip(untraced.cpu, untraced.wall)
        ),
        "trace.overhead_frac": traced_calls.median("total") / untraced.median("total") - 1.0,
    })
    for k, v in replay.self_cpu_s.items():
        values[f"kernels.{k}"] = 1000 * v / docs
    for k, v in replay.counts.items():
        values[f"kernels.{k}_per_doc"] = v / docs
    return {k: metric(v, LAYER_UNITS[k]) for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
