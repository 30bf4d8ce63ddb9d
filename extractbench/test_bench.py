"""Self-test of the benchmark (no Spark needed):

    python3 -m pytest extractbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from extractbench import corpus, run, trace
from extractbench.procstat import TreeCpu
from ragflow_ocr_spark.config import DEFAULT
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload
from ragflow_ocr_spark.kernels.pngcodec import sniff_payload
from ragflow_ocr_spark.spark import stages, synth

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.fixture(scope="module")
def declared():
    with open(BENCHMARK) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def pages():
    """A few pages of every class."""
    want = dict.fromkeys(corpus.JOB_MIX, 2)
    return corpus._pages(corpus._take(range(5_000, 6_000), want))


@pytest.fixture(scope="module")
def replay(pages):
    return trace.replay_kernels(list(pages["html"]))


def _calls(n: int) -> run.Calls:
    c = run.Calls(tree=None)
    c.wall = [2.0 + i for i in range(n)]
    c.cpu = [TreeCpu(0.1, 1.0 + i, 3.0 + i) for i in range(n)]
    return c


def test_end_to_end_names_match_declaration(declared):
    m = run.end_to_end_metrics(512, _calls(3), 100.0, 15.0)
    assert {k: v["unit"] for k, v in m.items()} == {
        d["name"]: d["unit"] for d in declared["end_to_end"]
    }


def _spark_row() -> dict:
    """spark_layers() on a call with no jobs at all."""
    return trace.spark_layers({"jobs": [], "stages": []}, [], 0.0, 1.0, status=None)


def test_layer_names_match_declaration(declared, replay):
    sizes = [{"extracted": (3, 100), "checkpoint": (2, 50)}]
    m = run.layer_metrics([_spark_row()], sizes, _calls(3), _calls(3), replay, 12, 4, 900.0)
    assert {k: v["unit"] for k, v in m.items()} == {
        d["name"]: d["unit"] for d in declared["per_layer"]
    }


def test_spark_layers_on_an_empty_call():
    row = _spark_row()
    assert row["pipeline.driver_gap_s"] == 1.0
    assert row["pipeline.spark_jobs"] == 0.0


def test_declared_names_are_read_from_benchmark_json(declared):
    assert run.declared_names(0) == {d["name"] for d in declared["end_to_end"]}
    assert run.declared_names(1) == {d["name"] for d in declared["per_layer"]}


class _JitCurve:
    """A workload whose n-th call costs the JVM ``jvm[n]`` CPU seconds,
    and the process tree that reads it."""

    def __init__(self, jvm: list[float], cap_s: float):
        self.jvm = list(jvm)
        self.spent = 0.0
        self.warmup_cap_s = cap_s

    def cpu(self) -> TreeCpu:
        return TreeCpu(0.0, self.spent, 0.0)

    def call(self, tag: str) -> str:
        self.spent += self.jvm.pop(0)
        return tag

    def cleanup(self, out) -> None:
        pass


def test_warm_up_runs_until_no_new_jvm_low():
    # the JIT curve of a job_default run: new lows up to the 9th call
    curve = _JitCurve([21.1, 8.5, 6.1, 4.7, 5.9, 5.7, 4.2, 4.2, 3.8, 3.9, 3.95, 3.7, 9.0], 1e9)
    calls = run.Calls(curve)
    assert run.warm_up(calls, curve) is True
    assert len(calls.wall) == 12
    # one noisy high call is no plateau: three calls without a new low are
    curve = _JitCurve([9.0, 7.0, 9.5, 6.0, 6.2, 6.1, 6.3, 9.0], 1e9)
    calls = run.Calls(curve)
    assert run.warm_up(calls, curve) is True
    assert len(calls.wall) == 7


def test_warm_up_stops_at_its_cap_without_a_plateau():
    curve = _JitCurve([9.0, 8.0, 7.0], 0.0)
    calls = run.Calls(curve)
    assert run.warm_up(calls, curve) is False
    assert len(calls.wall) == 1


def test_replay_is_byte_identical_to_untraced(pages, replay):
    for data, got in zip(pages["html"], replay.texts):
        assert got == stages._extract_one(data, DEFAULT)[0]
        if sniff_payload(data) not in ("html", "null"):
            assert got == extract_payload(data).text


def test_replay_closure(replay):
    assert replay.closure_error() <= run.CLOSURE_TOL
    assert replay.self_cpu_s["det_net"] > 0 and replay.self_cpu_s["rec_net"] > 0
    assert replay.counts["rec_batches"] > 0 and replay.counts["boxes"] > 0


def test_wrappers_are_removed(pages):
    from ragflow_ocr_spark.kernels import ocr_pipeline

    before = ocr_pipeline.run_with_retry
    trace.replay_kernels(list(pages["html"][:1]))
    assert ocr_pipeline.run_with_retry is before


def test_self_time_subtracts_children():
    t = trace.Tracer()
    with t.span("outer", "other"):
        with t.span("inner", "ctc"):
            sum(range(200_000))
    outer, inner = t.spans
    assert outer.child_cpu == inner.cpu
    assert outer.cpu >= inner.cpu


def _good_rows(pages):
    exp = corpus.Expected(pages)
    rows = []
    for url, data in zip(pages["url"], pages["html"]):
        text, _n, status, _engine = stages._extract_one(data, DEFAULT)
        rows.append((url, text, status))
    return exp, rows


def test_expected_accepts_correct_rows(pages):
    exp, rows = _good_rows(pages)
    assert exp.mismatches(rows) == []


def test_corrupted_expected_row_is_caught(pages):
    exp, rows = _good_rows(pages)
    url = next(u for u, t in exp.text.items() if t)
    exp.text[url] = exp.text[url][:-1] + "#"
    assert exp.mismatches(rows) == [url]


def test_missing_duplicate_and_unflagged_rows_are_caught(pages):
    exp, rows = _good_rows(pages)
    assert exp.mismatches(rows[1:]) == [rows[0][0]]
    assert exp.mismatches(rows + rows[:1]) == [rows[0][0]]
    null_url = next(iter(exp.must_error))
    flipped = [(u, t, "ok" if u == null_url else s) for u, t, s in rows]
    assert exp.mismatches(flipped) == [null_url]


def test_quotas_and_url_format():
    ids = corpus._take(range(7_000, 9_000), {"image_png": 3, "null_invalid": 2})
    assert sorted(synth.row_class(i) for i in ids) == ["image_png"] * 3 + ["null_invalid"] * 2
    assert all(synth.make_row(i)["url"] == corpus.url_of(i) for i in ids)


_ORPHAN_CHECK = """
import os, subprocess, sys
from extractbench import procstat
procstat.adopt_orphans()
child = subprocess.Popen([sys.executable, "-c",
    "import subprocess, sys; "
    "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(600)']); "
    "print(p.pid, flush=True)"], stdout=subprocess.PIPE, text=True)
grandchild = int(child.stdout.readline())
child.wait()
assert os.path.exists(f"/proc/{grandchild}"), "grandchild gone before the check"
left = procstat.end_descendants(grace_s=0.5)
print(sorted(left), os.path.exists(f"/proc/{grandchild}"))
"""


def test_orphaned_grandchild_is_ended_and_reaped():
    """A process whose parent has exited (as the Python workers and the
    Spark launcher's JVM are once the JVM is gone) is still found,
    ended and reaped. Runs in its own interpreter, since
    end_descendants ends every process below the one that calls it."""
    out = subprocess.run([sys.executable, "-c", _ORPHAN_CHECK], cwd=run.ROOT,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["[]", "False"]
