"""The traced run's per-layer measurements.

Nothing here is installed or polled unless ``--trace 1`` calls it.
Spans are recorded from this directory's own files, around the calls
the program makes into each layer, and kept in memory until the run
ends.

- Spark layers: spans around ``CheckpointStore.done_buckets``,
  ``CheckpointStore.mark_done``, ``spread_for_extract`` and the parquet
  writes, plus the Spark jobs and stages of each call, read from the
  driver's status REST API and attributed to the call by its job group.
- Kernel layers: the workload's pages are replayed in this process
  through ``extract_payload`` and ``extract_html`` with the names the
  orchestrators call wrapped in CPU-time spans; each kernel's self time
  is its spans' CPU minus the CPU of the spans nested in them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    kind: str
    parent: int  # index into Tracer.spans, -1 for a root
    start: float
    end: float = 0.0
    cpu: float = 0.0  # process CPU seconds inside the span
    child_cpu: float = 0.0
    arg: str = ""


@dataclass
class Tracer:
    """Records nested spans. Wall times are epoch seconds so they line
    up with the REST API's job times; CPU is process CPU time."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, kind: str, arg: str = ""):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        s = Span(name, kind, parent, time.time(), arg=arg)
        self.spans.append(s)
        self._stack.append(idx)
        c0 = time.process_time()
        try:
            yield s
        finally:
            s.cpu = time.process_time() - c0
            s.end = time.time()
            self._stack.pop()
            if parent >= 0:
                self.spans[parent].child_cpu += s.cpu

    def innermost(self, names: set[str]) -> str | None:
        """Name of the innermost open span whose name is in ``names``."""
        for idx in reversed(self._stack):
            if self.spans[idx].name in names:
                return self.spans[idx].name
        return None

    def wrap(self, owner: object, attr: str, name: str, kind: str,
             on_call=None, arg=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until
        :meth:`unwrap`. ``arg(*args, **kwargs)`` labels the span;
        ``on_call(span, args, result)`` may record counts from the call."""
        inner = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            label = arg(*args, **kwargs) if arg is not None else ""
            with tracer.span(name, kind, label) as s:
                out = inner(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, out)
                return out

        wrapper.__wrapped__ = inner
        self._undo.append((owner, attr, inner))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, inner = self._undo.pop()
            setattr(owner, attr, inner)


def dump_spans(path: str, groups: dict[str, list[Span]]) -> None:
    """Write each named group of spans, kept in memory until the run ends."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({k: [s.__dict__ for s in v] for k, v in groups.items()}, f)


# ------------------------------------------------------------ Spark layers


def wrap_spark_layers(tracer: Tracer) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from ragflow_ocr_spark.spark import checkpoint, pipeline

    tracer.wrap(checkpoint.CheckpointStore, "done_buckets", "done_buckets", "checkpoint")
    tracer.wrap(checkpoint.CheckpointStore, "mark_done", "mark_done", "checkpoint")
    tracer.wrap(pipeline, "spread_for_extract", "spread", "pipeline")
    # the group write and the checkpoint append, told apart by directory
    tracer.wrap(DataFrameWriter, "parquet", "write", "pipeline",
                arg=lambda _self, path, *a, **k: os.path.basename(str(path).rstrip("/")))


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    t = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp()


class SparkStatus:
    """The driver's status REST API (the Spark UI's ``/api/v1``)."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def calls(self, groups: list[str]) -> dict[str, dict]:
        """Per job group: its jobs (with epoch submit/complete times)
        and its completed stages, each with its task durations."""
        jobs = self.get("/jobs")
        stages = {s["stageId"]: s for s in self.get("/stages?status=complete")}
        out = {}
        for g in groups:
            gj = [j for j in jobs if j.get("jobGroup") == g]
            for j in gj:
                j["t0"] = _epoch(j.get("submissionTime"))
                j["t1"] = _epoch(j.get("completionTime"))
            sids = sorted({sid for j in gj for sid in j["stageIds"] if sid in stages})
            gs = [stages[sid] for sid in sids]
            out[g] = {"jobs": sorted(gj, key=lambda j: j["jobId"]), "stages": gs}
        return out

    def task_durations(self, stage: dict) -> list[float]:
        tasks = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskList?length=100000"
        )
        return [t["duration"] / 1000.0 for t in tasks if t.get("duration") is not None]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _sample_jobs(jobs: list[dict], stages: dict[int, dict]) -> list[dict]:
    """Range-partition sampling jobs: a job that writes no shuffle data
    and reads the same RDDs as a later shuffle-map stage (the sketch
    ``repartitionByRange`` runs before its exchange)."""
    out = []
    for i, j in enumerate(jobs):
        own = [stages[s] for s in j["stageIds"] if s in stages]
        if not own or any(s["shuffleWriteBytes"] for s in own):
            continue
        rdds = {r for s in own for r in s["rddIds"]}
        for later in jobs[i + 1:]:
            if any(
                stages[s]["shuffleWriteBytes"] and rdds & set(stages[s]["rddIds"])
                for s in later["stageIds"] if s in stages
            ):
                out.append(j)
                break
    return out


def spark_layers(
    call: dict, spans: list[Span], t0: float, t1: float, status: SparkStatus
) -> dict[str, float]:
    """Per-call Spark layer numbers from one call's jobs, stages and
    spans (wall seconds, counts)."""
    jobs = [j for j in call["jobs"] if j["t0"] is not None and j["t1"] is not None]
    stages = {s["stageId"]: s for s in call["stages"]}
    within = [s for s in spans if t0 <= s.start <= t1]
    spreads = [s for s in within if s.name == "spread"]
    if spreads:
        plan_end = spreads[0].start
    else:
        plan_end = min((j["t0"] for j in jobs), default=t1)
    writes = [s for s in within if s.name == "write" and s.arg == "extracted"]
    marks = [s for s in within if s.name == "mark_done"]
    readback = 0.0
    for w in writes:
        nxt = [m.start for m in marks if m.start >= w.end]
        readback += (min(nxt) if nxt else t1) - w.end
    out = {
        "pipeline.spark_jobs": float(len(call["jobs"])),
        "pipeline.plan_s": plan_end - t0,
        "pipeline.spread_sample_s": sum(
            j["t1"] - j["t0"] for j in _sample_jobs(jobs, stages)
        ),
        "pipeline.group_write_s": sum(w.end - w.start for w in writes),
        "pipeline.readback_s": readback,
        "pipeline.driver_gap_s": (t1 - t0)
        - _union_s([(max(j["t0"], t0), min(j["t1"], t1)) for j in jobs]),
        "checkpoint.done_buckets_s": sum(
            s.end - s.start for s in within if s.name == "done_buckets"
        ),
        "checkpoint.mark_done_s": sum(m.end - m.start for m in marks),
        "stages.shuffle_bytes": float(
            sum(s["shuffleWriteBytes"] for s in stages.values())
        ),
        "stages.spill_bytes": float(
            sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages.values())
        ),
    }
    # the extract stage: the call's stage with the most task run time
    # (the mapInPandas stage carries the Python worker time)
    main = max(stages.values(), key=lambda s: s["executorRunTime"], default=None)
    durations = status.task_durations(main) if main else []
    p50 = statistics.median(durations) if durations else 0.0
    out["stages.tasks"] = float(len(durations))
    out["stages.task_s.p50"] = p50
    out["stages.task_s.max"] = max(durations, default=0.0)
    out["stages.tail_ratio"] = out["stages.task_s.max"] / p50 if p50 else 0.0
    return {k: float(v) for k, v in out.items()}


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


# ----------------------------------------------------------- kernel layers

KERNELS = (
    "decode", "det_preprocess", "det_net", "db_postprocess", "reading_order",
    "crop", "rec_preprocess", "rec_net", "ctc", "html_extract",
)
COUNTS = ("det_pixels", "boxes", "rec_crops", "rec_batches")


@dataclass
class Replay:
    texts: list[str | None]
    cpu_s: float
    self_cpu_s: dict[str, float]  # KERNELS plus "other"
    counts: dict[str, int]
    spans: list[Span]

    def closure_error(self) -> float:
        """|sum of self times - measured replay CPU| / replay CPU."""
        return abs(sum(self.self_cpu_s.values()) - self.cpu_s) / self.cpu_s


def replay_kernels(pages: list[bytes | None]) -> Replay:
    """Extract ``pages`` in this process with every kernel the
    orchestrators call wrapped, and return the texts, the replay's CPU
    and each kernel's self CPU."""
    from ragflow_ocr_spark.config import DEFAULT
    from ragflow_ocr_spark.kernels import ocr_pipeline as op
    from ragflow_ocr_spark.kernels import pdf
    from ragflow_ocr_spark.spark import stages

    tracer = Tracer()
    counts = dict.fromkeys(COUNTS, 0)

    def det_pixels(_s, _args, out):
        counts["det_pixels"] += int(out[0].shape[-2] * out[0].shape[-1])

    def boxes(_s, _args, out):
        counts["boxes"] += int(out.shape[0])

    def net(s, args, _out):
        # the same run_with_retry serves both nets: the enclosing
        # orchestrator tells them apart
        caller = tracer.innermost({"detect", "recognize_crops"})
        s.kind = "det_net" if caller == "detect" else "rec_net"
        if s.kind == "rec_net":
            counts["rec_batches"] += 1
            counts["rec_crops"] += int(args[1].shape[0])

    try:
        for owner, attr, kind, hook in (
            (op, "decode_payload_image", "decode", None),
            (pdf, "pdf_to_images", "decode", None),
            (op, "det_preprocess", "det_preprocess", det_pixels),
            (op, "run_with_retry", "net", net),
            (op, "db_postprocess", "db_postprocess", None),
            (op, "filter_tag_det_res", "db_postprocess", None),
            (op, "sorted_boxes", "reading_order", None),
            (op, "get_rotate_crop_image", "crop", None),
            (op, "rotation_probe", "crop", None),
            (op, "resize_norm_img", "rec_preprocess", None),
            (op, "ctc_greedy_decode", "ctc", None),
            # the names the stage's own routing calls
            (stages, "extract_html", "html_extract", None),
            # orchestrators: their self time is the "other" remainder
            (op, "detect", "other", boxes),
            (op, "recognize_crops", "other", None),
            (op, "ocr_image", "other", None),
            (stages, "extract_payload", "other", None),
        ):
            # kernel spans are named by their layer, orchestrators (and
            # the net, whose layer is known only inside the call) by
            # the function
            name = attr if kind in ("other", "net") else kind
            tracer.wrap(owner, attr, name, kind, hook)
        texts = []
        c0 = time.process_time()
        for data in pages:
            with tracer.span("doc", "other"):
                texts.append(stages._extract_one(data, DEFAULT)[0])
        cpu = time.process_time() - c0
    finally:
        tracer.unwrap()
    self_cpu = dict.fromkeys(KERNELS + ("other",), 0.0)
    for s in tracer.spans:
        self_cpu[s.kind] += s.cpu - s.child_cpu
    return Replay(texts, cpu, self_cpu, counts, tracer.spans)
