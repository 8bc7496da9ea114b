"""Tests of the benchmark's own code (no Spark session needed).

Run with:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from pathlib import Path

import pytest

from benchlib import checks, eventlog, inputs, stats, workloads
from benchlib.tracing import Tracer

BENCH = Path(__file__).resolve().parent.parent
REPO = BENCH.parent


# --- percentile / sample-count rule ------------------------------------------

@pytest.mark.parametrize("n, expected", [
    (0, None), (1, None), (19, None), (99, None),
    (100, 90.0), (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_summarize_reports_median_and_count_only_below_rule():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "median": 2.0, "tail_p": None, "tail": None}
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["tail_p"] == 90.0 and s["tail"] == 90.0  # nearest rank
    assert stats.summarize([])["median"] is None


def test_percentile_nearest_rank():
    assert stats.percentile([5.0], 99) == 5.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# --- event-log parser on a tiny synthetic log --------------------------------

def _task(stage, launch, finish, py=None, shuffle=0, reason="Success"):
    accs = [{"Name": name, "Update": str(v)} for name, v in (py or {}).items()]
    accs.append({"Name": "number of output rows", "Update": "7"})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": reason != "Success", "Accumulables": accs},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _job(job_id, stages, span, submit=0):
    props = {"spark.app.name": "x"}
    if span is not None:
        props[eventlog.SPAN_PROPERTY] = span
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Submission Time": submit, "Properties": props}


def _job_end(job_id, completion):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": completion}


PY = {eventlog.PY_INIT: 300, eventlog.PY_RUN: 40, eventlog.PY_SENT: 1000,
      eventlog.PY_RETURNED: 800}


@pytest.fixture
def synthetic_log(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        _job(0, [0, 1], "s1-sink.page_scores", submit=900),
        _task(0, 1000, 1100, shuffle=50),                 # scan → repartition
        _task(1, 1100, 1600, py=PY, shuffle=20),          # parse + partial agg
        _task(1, 1100, 1500, py=PY, shuffle=30),
        _job_end(0, 1650),
        _job(1, [1, 2], "s2-sink.spans_out", submit=1600),  # stage 1 skipped here
        _task(2, 1700, 1900, shuffle=0),
        _task(2, 1700, 2300, shuffle=0),
        _task(2, 1700, 1800, reason="ExceptionFailure"),  # failed attempt
        _job_end(1, 2350),
        _job(2, [3], None, submit=2400),                  # untagged job
        _task(3, 2400, 2500, py=PY),
        _job_end(2, 2600),
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    with open(d / "events_1_local-1", "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")
        fh.write('{"Event": "SparkListenerTaskEnd", "Stage')  # truncated tail
    (d / "appstatus_local-1").write_text("not json")
    return eventlog.load(str(tmp_path))


def test_eventlog_jobs_tasks_and_spans(synthetic_log):
    log = synthetic_log
    assert [(j.job_id, j.span) for j in log.jobs] == [
        (0, "s1-sink.page_scores"), (1, "s2-sink.spans_out"), (2, None)]
    assert len(log.tasks) == 6  # the failed attempt is skipped
    assert [(j.submit_ms, j.end_ms) for j in log.jobs] == [
        (900, 1650), (1600, 2350), (2400, 2600)]
    # overlapping jobs count once: [900, 2350] + [2400, 2600]
    assert eventlog.busy_s(log.jobs) == pytest.approx(1.65)
    # stage 1 ran for job 0; job 1 lists it only as skipped
    scores = log.tasks_of(log.jobs_in({"s1-sink.page_scores"}))
    spans = log.tasks_of(log.jobs_in({"s2-sink.spans_out"}))
    assert sorted(t.stage_id for t in scores) == [0, 1, 1]
    assert sorted(t.stage_id for t in spans) == [2, 2]
    py = [t for t in scores if t.is_python]
    assert len(py) == 2 and py[0].py[eventlog.PY_INIT] == 300
    assert sorted(t.duration_ms for t in spans) == [200, 600]


def test_event_metrics_per_pass(synthetic_log):
    log = synthetic_log
    tagged = log.jobs_in({"s1-sink.page_scores", "s2-sink.spans_out"})
    m = workloads.event_metrics(log, tagged, 1,
                                log.jobs_in({"s1-sink.page_scores"}),
                                log.jobs_in({"s2-sink.spans_out"}))
    assert m["parse.tasks"] == 2
    assert m["parse.task_ms_p50"] == 450 and m["parse.task_ms_max"] == 500
    assert m["session.py_worker_init_ms_p50"] == 300
    assert m["parse.py_exec_ms"] == 80
    assert m["parse.arrow_bytes_to_py"] == 2000 and m["parse.arrow_bytes_from_py"] == 1600
    assert m["parse.stage_runs_per_pass"] == 1
    # from the Python stage on: the repartition exchange (stage 0) is excluded
    assert m["score.shuffle_write_bytes"] == 50
    assert m["pipeline.jobs_per_pass"] == 2 and m["pipeline.tasks_per_pass"] == 5


# --- tracer ---------------------------------------------------------------------

class _FakeContext:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_tracer_tags_jobs_and_computes_self_time(monkeypatch):
    sc = _FakeContext()
    tr = Tracer(sc)
    clock = iter([0.0, 1.0, 3.0, 2.5, 5.0, 10.0])
    monkeypatch.setattr("benchlib.tracing.time.time", lambda: next(clock))
    with tr.span("pass") as outer:
        with tr.span("a") as a:
            pass
        with tr.span("b"):
            pass
    spans = {s.name: s for s in tr.spans}
    assert spans["a"].parent == outer and spans["b"].parent == outer
    assert (spans["a"].start, spans["a"].end) == (1.0, 3.0)
    assert (spans["b"].start, spans["b"].end) == (2.5, 5.0)
    # children cover [1, 5] (overlap counted once) of the outer [0, 10]
    assert tr.self_time(spans["pass"]) == pytest.approx(6.0)
    assert tr.subtree_ids(outer) == {outer, a, spans["b"].id}
    # entering a span tags jobs with it; leaving restores the parent
    assert sc.props[0] == (eventlog.SPAN_PROPERTY, outer)
    assert sc.props[1] == (eventlog.SPAN_PROPERTY, a)
    assert sc.props[2] == (eventlog.SPAN_PROPERTY, outer)
    assert sc.props[-1] == (eventlog.SPAN_PROPERTY, None)


def test_timed_passes_counts_failures_and_runs_at_least_twice():
    calls = []

    def ok(i):
        calls.append(i)
        return 0.5, 1.5, {"i": i}

    records, raised, errors = workloads.timed_passes(0.0, ok)
    assert calls == [0, 1] and len(records) == 2 and raised == 0
    calls.clear()
    records, _, _ = workloads.timed_passes(0.0, ok, min_passes=5)
    assert calls == [0, 1, 2, 3, 4]
    calls.clear()
    records, _, _ = workloads.timed_passes(0.0, ok, min_passes=3, cycle=2)
    assert calls == [0, 1, 2, 3]  # whole ABBA cycles

    def boom(i):
        raise ValueError("broken")

    records, raised, errors = workloads.timed_passes(60.0, boom)
    assert records == [] and raised == 3 and "ValueError" in errors[0]


CPU_CHILD = """
import sys, threading, time

def burn(seconds):
    end = time.thread_time() + seconds
    while time.thread_time() < end:
        pass

burned = threading.Event()

def jit():  # a thread named like HotSpot's JIT compiler threads, kept alive
    with open(f"/proc/self/task/{threading.get_native_id()}/comm", "w") as fh:
        fh.write("C2 CompilerThread0")
    burn(0.6)
    burned.set()
    threading.Event().wait()

threading.Thread(target=jit, daemon=True).start()
burned.wait()
burn(0.3)
print("done", flush=True)
sys.stdin.read()
"""


def test_cpu_clock_counts_descendants_but_not_jit_threads():
    import subprocess
    import sys

    from benchlib.host import CpuClock

    clock = CpuClock()
    child = subprocess.Popen([sys.executable, "-c", CPU_CHILD], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        cpu, jit = clock.lap()
    finally:
        child.communicate("")
    assert 0.55 <= jit <= 0.8
    assert 0.25 <= cpu <= 0.9  # the main thread's burn plus interpreter start-up


def _spans(*rows):
    """Span records from (id, name, start, end, parent) rows."""
    from benchlib.tracing import Span

    tr = Tracer()
    tr.spans = [Span(sid, name, a, b, parent, None) for sid, name, a, b, parent in rows]
    return tr


def test_pipeline_layers_come_from_prefixes_not_the_pass_wall():
    tr = _spans(("p", "pass", 0.0, 9.0, None),  # a slow pass changes no layer
                *[(n, n, 0.0, d, None) for n, d in [
                    ("prefix.scan", 0.1), ("prefix.explode", 0.3),
                    ("prefix.repartition", 0.5), ("prefix.boundary", 1.0),
                    ("prefix.kernel_scores", 1.2), ("prefix.kernel_spans", 1.5),
                    ("prefix.page_scores", 2.0), ("prefix.spans_out", 2.5)]])
    layers, metrics, detail = workloads.pipeline_layers(tr)
    assert layers == pytest.approx({"sources": 0.2, "operators.parse": 2.5,
                                    "operators.score": 0.8, "operators.spans": 1.0})
    # the layers add up to the two whole branches, each timed on its own
    assert sum(layers.values()) == pytest.approx(2.0 + 2.5)
    assert metrics["parse.boundary_s"] == pytest.approx(0.5)
    assert metrics["parse.kernel_s"] == pytest.approx(0.2)
    assert detail["repartition_s"] == pytest.approx(0.2)


def test_incremental_layers_read_the_runners_own_jobs_from_the_log(tmp_path):
    tr = _spans(("r", "pass", 0.0, 10.0, None),
                ("pp", "pending_parts", 0.0, 0.5, "r"),
                ("st", "stage", 0.5, 1.5, "r"),
                ("pb", "plan_build", 1.5, 1.6, "r"),
                ("a1", "append.page_scores", 2.0, 4.0, "r"),
                ("a2", "append.lineage", 5.0, 6.0, "r"),
                ("rs", "inc.resume", 11.0, 11.7, None),
                ("pq", "inc.pending_parts", 12.0, 12.2, None))
    log = eventlog.EventLog(jobs=[
        eventlog.Job(0, "pp", [0], 0, 400), eventlog.Job(1, "st", [1], 600, 1400),
        eventlog.Job(2, "a1", [2], 2000, 3900),
        eventlog.Job(3, "r", [3], 4000, 4600),   # the runner's own stats job
        eventlog.Job(4, "a2", [4], 5000, 5900)])
    (tmp_path / "f").write_bytes(b"x" * 300)
    corpus = inputs.Corpus("in.parquet", [], {"bytes": 100})
    layers, metrics = workloads.incremental_layers(tr, log, corpus, "pass", str(tmp_path),
                                                   2, [2.0, 4.0])
    assert layers == pytest.approx({"plans.incremental": 0.5 + 0.6,
                                    "plans.pipeline": 0.1, "sources.catalog": 4.0})
    assert metrics["incremental.self_s"] == pytest.approx(10.0 - 4.6)
    assert metrics["incremental.jobs_per_part"] == 1.5  # pending/stage jobs excluded
    assert metrics["incremental.resume_noop_s"] == pytest.approx(0.7)
    assert metrics["incremental.part_commit_s_p50"] == 3.0
    assert metrics["catalog.bytes_written_per_input_byte"] == 3.0
    assert metrics["catalog.files_written_per_part"] == 0.5


# --- inputs and output checks -------------------------------------------------------

def test_seeded_corpus_is_deterministic_and_keyed(tmp_path):
    params = {"pages": 60, "skew_docs": 1, "skew_spans": 10}
    a = inputs.seeded_corpus(str(REPO), str(tmp_path / "a"), "w", 3, params)
    b = inputs.seeded_corpus(str(REPO), str(tmp_path / "b"), "w", 3, params)
    c = inputs.seeded_corpus(str(REPO), str(tmp_path / "a"), "w", 4, params)
    assert a.fingerprint["digest"] == b.fingerprint["digest"]
    assert a.fingerprint["digest"] != c.fingerprint["digest"]
    assert a.fingerprint["docs"] == len(a.docs)
    assert a.docs[0]["doc_id"].startswith("f0") and a.docs[-1]["doc_id"] == "skew000"
    # every seed has exactly the page target, the giant doc included
    assert a.fingerprint["pages"] == c.fingerprint["pages"] == 60
    again = inputs.seeded_corpus(str(REPO), str(tmp_path / "a"), "w", 3, params)
    assert again.path == a.path and again.docs == a.docs  # served from the cache
    other = inputs.seeded_corpus(str(REPO), str(tmp_path / "a"), "w", 3,
                                 {**params, "pages": 61})
    assert other.path != a.path  # generation parameters are part of the key


def _oracle_rows(docs):
    from tests import oracle

    scores, spans, quar = [], [], []
    for d in docs:
        exp = oracle.doc_expected(d["spans"])
        row = {"doc_id": d["doc_id"], "correctable_score": exp["correctable_score"],
               "quality_score": exp["quality_score"]}
        row.update({n: getattr(exp["counters"], n) for n in oracle.COUNTER_NAMES})
        scores.append(row)
        spans += [{"doc_id": d["doc_id"], "ord": o, "kind": k, "text": t, "media_ref": m}
                  for o, k, t, m in exp["spans_out"]]
        quar += [{"doc_id": d["doc_id"], "span_ord": off} for off, _err in exp["quarantined"]]
    return scores, spans, quar


def test_compare_accepts_reference_and_rejects_drift():
    from page_evaluator_spark.corpus import fixtures_docs

    docs = fixtures_docs()
    ids = checks.check_ids(docs, seed=1, sample=5)
    assert set(ids) == {d["doc_id"] for d in docs}  # all fixtures are always checked
    scores, spans, quar = _oracle_rows(docs)
    assert quar, "fixture quarantine rows are expected output"
    assert checks.compare(docs, ids, *checks.group_outputs(scores, spans, quar, set(ids))) == []

    spans[0] = {**spans[0], "text": spans[0]["text"] + "x"}
    quar = quar[1:]
    scores = [r for r in scores if r["doc_id"] != "f010_txt_canonical"]
    errors = checks.compare(docs, ids, *checks.group_outputs(scores, spans, quar, set(ids)))
    assert any("spans_out differs" in e for e in errors)
    assert any("quarantine" in e for e in errors)
    assert any("f010_txt_canonical: no page_scores row" in e for e in errors)


# --- the command itself --------------------------------------------------------------

def test_run_refuses_without_the_repository(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark it must
    fail fast, without printing a result."""
    shutil.copy(REPO / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ocr_small_docs",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
    assert not (tmp_path / ".perfbench_work").exists()


def test_benchmark_json_declares_what_run_reports():
    with open(REPO / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    from run import E2E_UNITS

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.NAMES)
    assert spec["paths"] == ["perfbench"]
    assert os.path.isfile(REPO / spec["command"][1])
