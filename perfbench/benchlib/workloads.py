"""The benchmark's workloads, driven through the program's public API.

Each workload owns its seeded input, one operation ("pass") that is repeated
untimed to warm the session and then timed, an output check against the
reference, and a traced breakdown by the modules of ``page_evaluator_spark``.
A pass is measured in wall seconds and in CPU seconds of the driver, the JVM
and the Python workers (``host.CpuClock``); the CPU seconds are the bounded
end-to-end figure, because on a shared host they move far less than the wall.
Layers are timed from outside: harness spans around calls into each layer,
cumulative plan prefixes for the stages inside one Spark job, and the Spark
event log for task- and job-level metrics.

Both workloads report every per-layer metric: a traced run times the
pipeline's plan prefixes on its own input, and runs the incremental runner on
it (the small-docs workload as one probe after its passes).

A traced run interleaves untagged passes (U) and traced passes (T) in one
session, in ABBA order so both see the same warmth (one untimed T joins the
warm-up): the tracing overhead is T - U, and the layer self-times, which are
measured apart from any pass wall, are compared with U.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import checks, eventlog
from .host import CpuClock, loadavg_1m, steal_s
from .inputs import Corpus, seeded_corpus
from .tracing import Tracer

# columns each pipeline branch's pruned parse kernel emits (plans/pipeline.py)
SCORE_COLUMNS = ("doc_id", "kind", "text")
SPANS_COLUMNS = ("doc_id", "span_offset", "pos", "kind", "text", "media_ref")
ROW_KINDS = ("word", "media", "page", "error", "empty")
OUTPUT_TABLES = ("page_scores", "spans_out", "quarantine", "lineage")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class PassRecord:
    wall_s: float
    cpu_s: float
    load_before: float
    load_after: float
    steal_s: float  # CPU time the host took from this machine during the pass
    extra: dict = field(default_factory=dict)


@dataclass
class Outcome:
    """Timed passes of a run and the operations they attempted/failed."""
    passes: list[PassRecord]
    attempted: int
    failed: int
    errors: list[str]


MIN_PASSES = 2


def timed_passes(seconds: float, one_pass, min_passes: int = MIN_PASSES,
                 cycle: int = 1) -> tuple[list[PassRecord], int, list[str]]:
    """Run ``one_pass(i)`` until ``seconds`` have been spent in it, at least
    ``min_passes`` calls were made, and the call count is a whole number of
    ``cycle``s.  ``one_pass`` returns the pass's wall and CPU seconds and
    extra fields.  Returns (records, passes that raised, error lines)."""
    records, raised, errors = [], 0, []
    spent, i = 0.0, 0
    while i < min_passes or spent < seconds or i % cycle:
        before, stolen = loadavg_1m(), steal_s()
        t0 = time.perf_counter()
        try:
            wall, cpu, extra = one_pass(i)
        except Exception as exc:  # a failed operation is counted, not fatal
            raised += 1
            errors.append(f"pass {i}: {type(exc).__name__}: {exc}"[:500])
            wall, cpu, extra = None, None, None
        spent += time.perf_counter() - t0
        if extra is not None:
            records.append(PassRecord(wall, cpu, before, loadavg_1m(), steal_s() - stolen,
                                      extra))
        i += 1
        if raised and not records and i >= 3:
            break  # the program is broken; stop spending the run's budget
    return records, raised, errors


def clocked(fn) -> tuple[float, float, dict]:
    """(wall seconds, CPU seconds, {"jit_cpu_s": ...}) spent in ``fn()``; see
    ``host.CpuClock`` for what the CPU seconds count."""
    clock = CpuClock()
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    cpu, jit = clock.lap()
    return wall, cpu, {"jit_cpu_s": jit}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _span_median(tracer: Tracer, name: str) -> float:
    return _median([s.duration for s in tracer.named(name)])


def _child_median(tracer: Tracer, parents, name: str) -> float:
    """Median over ``parents`` of the summed durations of their child spans
    called ``name``."""
    return _median([sum(s.duration for s in tracer.spans
                        if s.name == name and s.parent == p.id) for p in parents])


def _branch_shuffle_bytes(log: eventlog.EventLog, jobs) -> int:
    """Shuffle bytes a branch writes from its Python stage on (the exchange
    feeding its aggregate/window), or from all its stages when the parse ran
    in an earlier job (cached relation)."""
    tasks = log.tasks_of(jobs)
    py_stages = [t.stage_id for t in tasks if t.is_python]
    first = min(py_stages) if py_stages else -1
    return sum(t.shuffle_write_bytes for t in tasks if t.stage_id >= first)


def rows_out(spark, corpus: Corpus, repartition: int | None) -> dict:
    """Parsed rows by kind over the whole input (one extra, untimed job)."""
    from page_evaluator_spark.operators.parse import MEDIA_KINDS, parse_documents

    counts = {r["kind"]: r["count"] for r in
              parse_documents(spark.read.parquet(corpus.path), repartition=repartition)
              .groupBy("kind").count().collect()}
    out = {k: counts.get(k, 0) for k in ROW_KINDS}
    out["media"] = sum(counts.get(k, 0) for k in MEDIA_KINDS)
    return {f"parse.rows_out.{k}": float(v) for k, v in out.items()}


def event_metrics(log: eventlog.EventLog, pass_jobs, n_passes: int,
                  score_jobs, spans_jobs) -> dict:
    """Task-level metrics of the traced passes, per pass."""
    n = max(n_passes, 1)
    tasks = log.tasks_of(pass_jobs)
    py = [t for t in tasks if t.is_python]
    durs = [t.duration_ms for t in py] or [0.0]
    init = [t.py.get(eventlog.PY_INIT, 0.0) for t in py] or [0.0]
    return {
        "session.py_worker_init_ms_p50": _median(init),
        "parse.tasks": float(len(py)),
        "parse.task_ms_p50": _median(durs),
        "parse.task_ms_max": max(durs),
        "parse.py_exec_ms": sum(t.py.get(eventlog.PY_RUN, 0.0) for t in py) / n,
        "parse.arrow_bytes_to_py": sum(t.py.get(eventlog.PY_SENT, 0.0) for t in py) / n,
        "parse.arrow_bytes_from_py": sum(t.py.get(eventlog.PY_RETURNED, 0.0) for t in py) / n,
        "parse.stage_runs_per_pass": len({t.stage_id for t in py}) / n,
        "score.shuffle_write_bytes": _branch_shuffle_bytes(log, score_jobs) / n,
        "spans.shuffle_write_bytes": _branch_shuffle_bytes(log, spans_jobs) / n,
        "pipeline.jobs_per_pass": len(pass_jobs) / n,
        "pipeline.tasks_per_pass": len(tasks) / n,
    }


def jobs_under(log: eventlog.EventLog, tracer: Tracer, names: set[str]):
    ids: set[str] = set()
    for s in tracer.spans:
        if s.name in names:
            ids |= tracer.subtree_ids(s.id)
    return log.jobs_in(ids)


# --- the pipeline's layers: cumulative plan prefixes ----------------------------

def pipeline_prefixes(spark, path: str, repartition: int | None, tracer: Tracer) -> None:
    """Cumulative plan prefixes of ``evaluate_documents`` on one input, each
    its own noop job under a span: scan, +explode, +repartition (when the plan
    has one), +identity mapInArrow (the Python boundary without the kernel),
    +parse kernel with each branch's columns, and each whole branch."""
    from page_evaluator_spark.operators.parse import explode_docs, parse_spans
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    def identity(batches):  # nested, so workers get it by value, not by import
        yield from batches

    docs = spark.read.parquet(path)
    spans = explode_docs(docs)
    chain = [("prefix.scan", docs), ("prefix.explode", spans)]
    feed = spans
    if repartition:
        feed = spans.repartition(repartition, "doc_id", "span_offset")
        chain.append(("prefix.repartition", feed))
    out = evaluate_documents(docs, repartition=repartition)
    chain += [
        ("prefix.boundary", feed.mapInArrow(identity, schema=feed.schema)),
        ("prefix.kernel_scores", parse_spans(spans, repartition=repartition,
                                             columns=SCORE_COLUMNS)),
        ("prefix.kernel_spans", parse_spans(spans, repartition=repartition,
                                            columns=SPANS_COLUMNS)),
        ("prefix.page_scores", out.page_scores),
        ("prefix.spans_out", out.spans_out)]
    for name, df in chain:
        with tracer.span(name):
            noop(df)


def pipeline_layers(tracer: Tracer) -> tuple[dict, dict, dict]:
    """(layer self-times of one uncached pipeline pass, per-layer metrics,
    prefix medians), from the prefix spans alone.  Consecutive prefixes
    differ by one layer; a whole branch minus its kernel prefix is the
    branch's own operator (classify + aggregate, or the row_number window).
    The uncached plan runs scan → boundary once per branch."""
    names = ["prefix.scan", "prefix.explode", "prefix.repartition", "prefix.boundary",
             "prefix.kernel_scores", "prefix.kernel_spans", "prefix.page_scores",
             "prefix.spans_out"]
    med = {n: _span_median(tracer, n) for n in names if tracer.named(n)}
    before_boundary = med.get("prefix.repartition", med["prefix.explode"])
    scan = med["prefix.scan"]
    explode = med["prefix.explode"] - scan
    repart = before_boundary - med["prefix.explode"]
    boundary = med["prefix.boundary"] - before_boundary
    kernel_scores = med["prefix.kernel_scores"] - med["prefix.boundary"]
    kernel_spans = med["prefix.kernel_spans"] - med["prefix.boundary"]
    classify = med["prefix.page_scores"] - med["prefix.kernel_scores"]
    window = med["prefix.spans_out"] - med["prefix.kernel_spans"]
    layers = {
        "sources": 2 * scan,
        "operators.parse": 2 * (explode + repart + boundary) + kernel_scores + kernel_spans,
        "operators.score": classify,
        "operators.spans": window,
    }
    metrics = {
        "sources.scan_s": scan, "parse.explode_s": explode,
        "parse.boundary_s": boundary, "parse.kernel_s": kernel_scores,
        "score.classify_agg_s": classify, "spans.window_s": window,
    }
    return layers, metrics, {"prefix_walls_s": med, "repartition_s": repart}


# --- the incremental runner's layers -------------------------------------------

def _fresh_root(workdir: str, name: str) -> str:
    root = os.path.join(workdir, "incremental", name)
    shutil.rmtree(root, ignore_errors=True)
    return root


def _runner(spark, root: str, n_parts: int):
    from page_evaluator_spark.plans.incremental import IncrementalRunner

    return IncrementalRunner(spark, root, n_parts=n_parts)


def part_commit_intervals(spark, root: str) -> list[float]:
    from page_evaluator_spark.sources.catalog import Catalog

    stamps = sorted(r["committed_at"] for r in Catalog(spark).read(
        os.path.join(root, "lineage")).select("committed_at").collect())
    return [(b - a).total_seconds() for a, b in zip(stamps, stamps[1:])]


def traced_incremental_run(spark, path: str, root: str, n_parts: int,
                           tracer: Tracer, name: str) -> None:
    """``IncrementalRunner(n_parts).run()`` on a fresh root under span
    ``name``, with child spans around the runner's calls into the pipeline
    (evaluate_documents and its branch plans), the catalog (staging write,
    each append) and its resume bookkeeping (pending_parts).  Jobs the run
    submits outside those calls (the per-part stats collect) carry ``name``
    itself.  Then the no-op resume and ``pending_parts()`` on the committed
    root."""
    import page_evaluator_spark.plans.incremental as inc

    def wrap(fn, name_of):
        def traced(*args, **kwargs):
            with tracer.span(name_of(args)):
                return fn(*args, **kwargs)
        return traced

    runner = _runner(spark, root, n_parts)
    runner.pending_parts = wrap(runner.pending_parts, lambda a: "pending_parts")
    runner._stage_docs = wrap(runner._stage_docs, lambda a: "stage")
    runner.catalog.append = wrap(
        runner.catalog.append, lambda a: "append." + os.path.basename(a[1].rstrip("/")))
    plan_fn = inc.evaluate_documents

    def plan_build(*args, **kwargs):
        # like the small-docs pass: the call plus the branch plans it builds
        # on first attribute access
        with tracer.span("plan_build"):
            out = plan_fn(*args, **kwargs)
            out.page_scores, out.spans_out, out.quarantine  # noqa: B018
        return out

    inc.evaluate_documents = plan_build
    try:
        with tracer.span(name):
            runner.run(spark.read.parquet(path), run_id="bench")
    finally:
        inc.evaluate_documents = plan_fn
    with tracer.span("inc.resume"):
        _runner(spark, root, n_parts).run(spark.read.parquet(path), run_id="resume")
    with tracer.span("inc.pending_parts"):
        _runner(spark, root, n_parts).pending_parts()


def incremental_layers(tracer: Tracer, log: eventlog.EventLog, corpus: Corpus,
                       name: str, root: str, n_parts: int,
                       commits: list[float]) -> tuple[dict, dict]:
    """(layer self-times of one runner pass, per-layer metrics) from the
    runs traced under span ``name``.  The runner's own time is its
    pending_parts calls plus the jobs it submits itself, read from the event
    log, so nothing is taken as a residual.  With cache_parsed the first
    append of a part also computes the cached parse, so parse, classify and
    window work sits inside the catalog's append spans here."""
    runs = tracer.named(name)
    appends = sum(_child_median(tracer, runs, f"append.{t}") for t in OUTPUT_TABLES)
    own_jobs = _median([eventlog.busy_s(log.jobs_in({r.id})) for r in runs])
    stage = _child_median(tracer, runs, "stage")
    layers = {
        "plans.incremental": _child_median(tracer, runs, "pending_parts") + own_jobs,
        "plans.pipeline": _child_median(tracer, runs, "plan_build"),
        "sources.catalog": stage + appends,
    }
    jobs_per_part = []
    for r in runs:
        ids = tracer.subtree_ids(r.id)
        bookkeeping = [s.id for s in tracer.spans
                       if s.parent == r.id and s.name in ("pending_parts", "stage")]
        outside = set().union(*(tracer.subtree_ids(b) for b in bookkeeping))
        jobs_per_part.append(len(log.jobs_in(ids - outside)) / n_parts)
    n_bytes, n_files = _tree_size(root)
    metrics = {
        "incremental.jobs_per_part": _median(jobs_per_part),
        "incremental.self_s": _median([tracer.self_time(r) for r in runs]),
        "incremental.part_commit_s_p50": _median(commits),
        "incremental.pending_parts_s": _span_median(tracer, "inc.pending_parts"),
        "incremental.resume_noop_s": _span_median(tracer, "inc.resume"),
        "catalog.stage_s": stage,
        "catalog.append_s": appends,
        "catalog.bytes_written_per_input_byte": n_bytes / corpus.fingerprint["bytes"],
        "catalog.files_written_per_part": n_files / n_parts,
    }
    return layers, metrics


def _tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            n_files += 1
    return n_bytes, n_files


# --- workloads -------------------------------------------------------------------

class Workload:
    name: str
    corpus_params: dict
    ops_per_pass = 1
    # untimed passes before the first timed one: the session's JIT warm-up
    # takes several passes, and a timed pass still on that slope makes the
    # run's median depend on how far the warm-up got
    warmup_passes = 2
    min_passes = MIN_PASSES

    def inputs(self, repo: str, workdir: str, seed: int) -> Corpus:
        return seeded_corpus(repo, workdir, self.name, seed, self.corpus_params)

    def one_pass(self, spark, corpus: Corpus, workdir: str,
                 i: int) -> tuple[float, float, dict]:
        """One pass: (wall seconds, CPU seconds, extra fields)."""
        raise NotImplementedError

    def warm_step(self, spark, corpus: Corpus, workdir: str, seed: int, i: int):
        """Untimed warm-up step ``i``; a pass unless a workload says otherwise."""
        return self.one_pass(spark, corpus, workdir, i)

    def final_check(self, spark, corpus: Corpus, seed: int) -> list[str]:
        """Output check after the timed passes; one line per difference."""
        raise NotImplementedError

    def traced_pass(self, spark, corpus: Corpus, workdir: str, tracer: Tracer) -> None:
        raise NotImplementedError

    def probe(self, spark, corpus: Corpus, workdir: str, tracer: Tracer) -> None:
        """Traced work done once, after the passes."""

    def trace_report(self, tracer: Tracer, log: eventlog.EventLog, corpus: Corpus,
                     n_passes: int) -> dict:
        """{layers, metrics, traced_wall_s, detail} of the traced passes."""
        raise NotImplementedError

    def _measure(self, spark, corpus, seconds, workdir, seed, phases, warm, one_pass,
                 min_passes, cycle=1) -> Outcome:
        """Warm-up steps ``warm(i)``, then timed ``one_pass(i)`` steps, then
        the output check.  Every step is an attempted pass; one that raises
        is a failed one, and a failed check fails them all."""
        t0 = time.perf_counter()
        warmed, warm_raised, errors = timed_passes(0.0, warm, self.warmup_passes)
        phases["warmup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        records, raised, timed_errors = timed_passes(seconds, one_pass, min_passes, cycle)
        phases["measure"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        check_errors = self.final_check(spark, corpus, seed) if records else []
        phases["final_check"] = time.perf_counter() - t0
        raised += warm_raised
        attempted = (len(warmed) + len(records) + raised) * self.ops_per_pass
        failed = attempted if check_errors else raised * self.ops_per_pass
        return Outcome(records, attempted, failed, errors + timed_errors + check_errors)

    def untraced(self, spark, corpus: Corpus, seconds: float, workdir: str,
                 seed: int, phases: dict) -> Outcome:
        def warm(i):
            return self.warm_step(spark, corpus, workdir, seed, i)

        def step(i):
            return self.one_pass(spark, corpus, workdir, i)

        return self._measure(spark, corpus, seconds, workdir, seed, phases, warm, step,
                             self.min_passes)

    def traced(self, spark, corpus: Corpus, seconds: float, workdir: str,
               seed: int, phases: dict, tracer: Tracer) -> Outcome:
        """Untagged passes (U) and traced passes (T) in ABBA order -- U T,
        T U, ... in whole cycles until ``seconds`` are spent -- so what is
        left of the session's warm-up trend weighs on both equally.  The
        warm-up ends with one untimed T under a throwaway tracer, so the
        prefix plans are not cold in the first measured T.  Each step
        records the U pass; the outcome counts U passes only."""
        def traced_step(i):
            tracer.pass_id = i
            try:
                self.traced_pass(spark, corpus, workdir, tracer)
            finally:
                tracer.pass_id = None

        def warm(i):
            if i == self.warmup_passes - 1:
                self.traced_pass(spark, corpus, workdir, Tracer())
                return 0.0, 0.0, {}
            return self.warm_step(spark, corpus, workdir, seed, i)

        def pair(i):
            if i % 2:
                traced_step(i)
            result = self.one_pass(spark, corpus, workdir, i)
            if not i % 2:
                traced_step(i)
            return result

        outcome = self._measure(spark, corpus, seconds, workdir, seed, phases, warm, pair,
                                MIN_PASSES, cycle=2)
        t0 = time.perf_counter()
        self.probe(spark, corpus, workdir, tracer)
        phases["probe"] = time.perf_counter() - t0
        return outcome


class OcrSmallDocs(Workload):
    """Many short mixed hOCR/TXT docs (~20% media) plus the fixtures and a few
    modest skew docs, through ``evaluate_documents(docs, repartition=R)`` with
    the default uncached two-branch plan, page_scores and spans_out sunk to
    noop.  Per-span Python work is tiny, so per-task worker bootstrap, the
    Arrow boundary and the per-pass planning and scheduling floor dominate."""

    name = "ocr_small_docs"
    corpus_params = {"pages": 760, "skew_docs": 2, "skew_spans": 200,
                     "media_fraction": 0.2, "mean_spans": 4, "row_group_size": 32}
    tasks_per_core = 2
    # the output check, then two passes: from a cold session the first run of
    # the plan takes several times a warm one, and the next ones are still
    # 10-30% slow while the JIT catches up
    warmup_passes = 3
    min_passes = 3

    def __init__(self, nproc: int) -> None:
        # task count above the core count, so per-task costs stay visible
        self.repartition = self.tasks_per_core * nproc
        self.check_errors: list[str] = []
        self.probe_root: str | None = None
        self.probe_commits: list[float] = []

    def _pass(self, spark, corpus: Corpus, tracer: Tracer) -> None:
        from page_evaluator_spark.plans.pipeline import evaluate_documents

        with tracer.span("plan_build"):
            out = evaluate_documents(spark.read.parquet(corpus.path),
                                     repartition=self.repartition)
            scores, spans = out.page_scores, out.spans_out
        with tracer.span("sink.page_scores"):
            noop(scores)
        with tracer.span("sink.spans_out"):
            noop(spans)

    def one_pass(self, spark, corpus, workdir, i):
        return clocked(lambda: self._pass(spark, corpus, Tracer()))

    def warm_step(self, spark, corpus, workdir, seed, i):
        """The output check is the first, cold warm-up step: it runs the same
        plan as a pass and pays the session's cold start once."""
        if i:
            return self.one_pass(spark, corpus, workdir, i)
        self.check_errors = self._check(spark, corpus, seed)
        return 0.0, 0.0, {}

    def final_check(self, spark, corpus, seed):
        return self.check_errors

    def _check(self, spark, corpus, seed):
        """The timed plan on the same input, collected instead of sunk to
        noop: every doc must get one page_scores row, and the checked docs
        must match the reference in all three outputs."""
        from page_evaluator_spark.plans.pipeline import evaluate_documents

        out = evaluate_documents(spark.read.parquet(corpus.path),
                                 repartition=self.repartition)
        scores = out.page_scores.toArrow().to_pylist()
        spans = out.spans_out.toArrow().to_pylist()
        quar = out.quarantine.toArrow().to_pylist()
        ids = checks.check_ids(corpus.docs, seed, sample=120)
        errors = []
        if sorted(r["doc_id"] for r in scores) != sorted(d["doc_id"] for d in corpus.docs):
            errors.append(f"page_scores has {len(scores)} rows for {len(corpus.docs)} docs")
        return errors + checks.compare(corpus.docs, ids, *checks.group_outputs(
            scores, spans, quar, set(ids)))

    def traced_pass(self, spark, corpus, workdir, tracer):
        """The pass under spans, then the pipeline's plan prefixes on the same
        input."""
        with tracer.span("pass"):
            self._pass(spark, corpus, tracer)
        pipeline_prefixes(spark, corpus.path, self.repartition, tracer)

    def probe(self, spark, corpus, workdir, tracer):
        """One traced incremental run on this input, for the runner's and the
        catalog's layer metrics (its first run in the session, so not warm)."""
        self.probe_root = _fresh_root(workdir, "probe")
        traced_incremental_run(spark, corpus.path, self.probe_root,
                               OcrIncremental.n_parts, tracer, "inc.run")
        self.probe_commits = part_commit_intervals(spark, self.probe_root)

    def trace_report(self, tracer, log, corpus, n_passes):
        passes = tracer.named("pass")
        layers, metrics, detail = pipeline_layers(tracer)
        plan_build = _child_median(tracer, passes, "plan_build")
        layers["plans.pipeline"] = plan_build
        metrics["pipeline.plan_build_s"] = plan_build
        metrics.update(event_metrics(log, jobs_under(log, tracer, {"pass"}), n_passes,
                                     jobs_under(log, tracer, {"sink.page_scores"}),
                                     jobs_under(log, tracer, {"sink.spans_out"})))
        _, inc_metrics = incremental_layers(
            tracer, log, corpus, "inc.run", self.probe_root, OcrIncremental.n_parts,
            self.probe_commits)
        metrics.update(inc_metrics)
        detail["repartition"] = self.repartition
        return {"layers": layers, "metrics": metrics,
                "traced_wall_s": _span_median(tracer, "pass"), "detail": detail}


class OcrIncremental(Workload):
    """``IncrementalRunner(n_parts=P).run()`` over a seeded small-docs parquet
    corpus into a fresh output root; the last root then gets a no-op resume
    ``run()``.  The production path: input staging, the parse cached per
    part, three output appends and a lineage commit per part, as many small
    jobs."""

    name = "ocr_incremental"
    corpus_params = {"pages": 850, "media_fraction": 0.2, "mean_spans": 4,
                     "row_group_size": 64}
    n_parts = 2
    ops_per_pass = n_parts  # part commits
    # the first run in a session takes about three warm ones; the next is
    # still 10-20% slow, which the median of three timed runs absorbs
    warmup_passes = 1
    min_passes = 3

    def __init__(self) -> None:
        self.last_root: str | None = None
        self.trace_root: str | None = None
        self.trace_commits: list[float] = []

    def one_pass(self, spark, corpus, workdir, i):
        """Full run on a fresh root."""
        root = _fresh_root(workdir, f"out{i % 2}")
        done = []
        wall, cpu, extra = clocked(lambda: done.extend(_runner(spark, root, self.n_parts).run(
            spark.read.parquet(corpus.path), run_id="bench")))
        if sorted(done) != list(range(self.n_parts)):
            raise RuntimeError(f"run committed parts {sorted(done)}")
        self.last_root = root
        return wall, cpu, {**extra, "part_commit_s": part_commit_intervals(spark, root)}

    def final_check(self, spark, corpus, seed):
        """A no-op resume of the last run commits nothing; then committed docs
        equal input docs, each part is committed exactly once, and the
        checked docs match the reference in all three outputs."""
        if self.last_root is None:
            return ["no committed run to check"]
        runner = _runner(spark, self.last_root, self.n_parts)
        errors = []
        again = runner.run(spark.read.parquet(corpus.path), run_id="resume")
        if again:
            errors.append(f"resume committed parts {again}")
        committed = [r["doc_id"] for r in runner.page_scores().select("doc_id").collect()]
        if sorted(committed) != sorted(d["doc_id"] for d in corpus.docs):
            errors.append(f"committed docs ({len(committed)}) != input docs "
                          f"({len(corpus.docs)})")
        parts = [r["part_id"] for r in runner.lineage().select("part_id").collect()]
        if sorted(parts) != list(range(self.n_parts)):
            errors.append(f"lineage parts {sorted(parts)}, each part once expected")
        ids = checks.check_ids(corpus.docs, seed, sample=120)
        got = checks.collect_outputs(runner.page_scores(), runner.spans_out(),
                                     runner.quarantine_rows(), ids)
        return errors + checks.compare(corpus.docs, ids, *got)

    def traced_pass(self, spark, corpus, workdir, tracer):
        """A traced full run with its resume, then the pipeline's plan prefixes
        on the same input, with the runner's plan (no repartition) but
        uncached."""
        self.trace_root = _fresh_root(workdir, "traced")
        traced_incremental_run(spark, corpus.path, self.trace_root, self.n_parts,
                               tracer, "pass")
        if tracer.pass_id is not None:  # a measured pass, not the warm-up
            self.trace_commits += part_commit_intervals(spark, self.trace_root)
        pipeline_prefixes(spark, corpus.path, None, tracer)

    def trace_report(self, tracer, log, corpus, n_passes):
        layers, metrics = incremental_layers(tracer, log, corpus, "pass", self.trace_root,
                                             self.n_parts, self.trace_commits)
        _, prefix_metrics, detail = pipeline_layers(tracer)
        metrics.update(prefix_metrics)
        metrics["pipeline.plan_build_s"] = layers["plans.pipeline"]
        metrics.update(event_metrics(log, jobs_under(log, tracer, {"pass"}), n_passes,
                                     jobs_under(log, tracer, {"append.page_scores"}),
                                     jobs_under(log, tracer, {"append.spans_out"})))
        detail.update(n_parts=self.n_parts, append_walls_s={
            t: _child_median(tracer, tracer.named("pass"), f"append.{t}")
            for t in OUTPUT_TABLES})
        return {"layers": layers, "metrics": metrics,
                "traced_wall_s": _span_median(tracer, "pass"), "detail": detail}


def make(name: str, nproc: int) -> Workload:
    if name == OcrSmallDocs.name:
        return OcrSmallDocs(nproc)
    if name == OcrIncremental.name:
        return OcrIncremental()
    raise KeyError(name)


NAMES = (OcrSmallDocs.name, OcrIncremental.name)
