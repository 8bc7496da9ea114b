"""Output checks against the transliterated Java reference
(``tests/oracle.doc_expected``), run outside the timed window.

The checked set is every fixture doc, every giant ("skew") doc and a seeded
sample of the rest.  Quarantine rows are compared like any other output:
fixture docs the reference cannot parse are expected in quarantine, so only a
difference from the oracle is a failure.
"""

from __future__ import annotations

import random

SCORE_TOL = 1e-5


def check_ids(docs: list[dict], seed: int, sample: int) -> list[str]:
    fixed = [d["doc_id"] for d in docs if d["doc_id"].startswith(("f0", "skew"))]
    rest = sorted(set(d["doc_id"] for d in docs) - set(fixed))
    rng = random.Random(seed)
    return fixed + rng.sample(rest, min(sample, len(rest)))


def group_outputs(scores: list[dict], spans: list[dict], quar: list[dict],
                  ids: set[str]):
    """Rows of the three outputs (as dicts) → per-doc views for ``compare``,
    keeping only ``ids``."""
    by_doc = {r["doc_id"]: r for r in scores if r["doc_id"] in ids}
    seq: dict[str, list] = {}
    for r in spans:
        if r["doc_id"] in ids:
            seq.setdefault(r["doc_id"], []).append(
                (r["ord"], r["kind"], r["text"], r["media_ref"]))
    bad: dict[str, list] = {}
    for r in quar:
        if r["doc_id"] in ids:
            bad.setdefault(r["doc_id"], []).append(r["span_ord"])
    return by_doc, seq, bad


def collect_outputs(page_scores, spans_out, quarantine, ids: list[str]):
    """Collect the three output relations restricted to ``ids``."""
    from pyspark.sql import functions as F

    want = F.col("doc_id").isin(ids)
    return group_outputs(*(df.where(want).toArrow().to_pylist()
                           for df in (page_scores, spans_out, quarantine)), set(ids))


def compare(docs: list[dict], ids: list[str], scores: dict, spans: dict,
            quar: dict) -> list[str]:
    """Differences between the collected outputs and the oracle, one line each."""
    from tests import oracle

    by_id = {d["doc_id"]: d for d in docs}
    errors = []
    for did in ids:
        exp = oracle.doc_expected(by_id[did]["spans"])
        got = scores.get(did)
        if got is None:
            errors.append(f"{did}: no page_scores row")
            continue
        for n in oracle.COUNTER_NAMES:
            if got[n] != getattr(exp["counters"], n):
                errors.append(f"{did}: {n} {got[n]} != {getattr(exp['counters'], n)}")
        for s in ("correctable_score", "quality_score"):
            if abs(got[s] - exp[s]) > SCORE_TOL:
                errors.append(f"{did}: {s} {got[s]} != {exp[s]}")
        if sorted(spans.get(did, [])) != exp["spans_out"]:
            errors.append(f"{did}: spans_out differs from the reference")
        if sorted(quar.get(did, [])) != sorted(q[0] for q in exp["quarantined"]):
            errors.append(f"{did}: quarantine {sorted(quar.get(did, []))} != "
                          f"{sorted(q[0] for q in exp['quarantined'])}")
    return errors
