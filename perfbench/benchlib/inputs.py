"""Seeded benchmark corpora, generated outside the timed window.

Every seed yields the same number of text pages (see ``generate``), so seeds
differ in content, not in size, and pages_per_s is comparable across seeds.
A corpus is written once per (workload, seed, generator content) under the
benchmark's work directory: the cache key hashes the generator's source files
(the program's corpus module and this one) and the generation parameters, so
a changed generator can never be served a stale file.  Each corpus carries a
fingerprint (docs, pages, spans, bytes and a content digest) that every result
records.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass


@dataclass
class Corpus:
    path: str
    docs: list[dict]
    fingerprint: dict

    @property
    def pages(self) -> int:
        return self.fingerprint["pages"]


def _generator_key(repo: str, params: dict) -> str:
    h = hashlib.sha256()
    for source in (os.path.join(repo, "page_evaluator_spark", "corpus.py"), __file__):
        with open(source, "rb") as fh:
            h.update(fh.read())
    h.update(json.dumps(params, sort_keys=True).encode())
    return h.hexdigest()[:12]


def _content_digest(docs: list[dict]) -> str:
    h = hashlib.sha256()
    for d in docs:
        h.update(json.dumps([d["doc_id"], [[s["kind"], s["text"], s["media_ref"], s["offset"]]
                                           for s in d["spans"]]]).encode())
    return h.hexdigest()[:16]


def _pages(doc: dict) -> int:
    from page_evaluator_spark.operators.parse import TEXT_KINDS

    return sum(1 for s in doc["spans"] if s["kind"] in TEXT_KINDS)


def generate(seed: int, params: dict) -> list[dict]:
    """``gen_corpus`` docs with exactly ``params["pages"]`` text pages: the
    ``skew_docs`` giant docs of ``skew_spans`` spans each count first, then
    the fixtures and random docs are taken in generation order, skipping any
    doc that would overshoot the target."""
    from page_evaluator_spark.corpus import gen_corpus

    params = dict(params)
    target = params.pop("pages")
    skew = {k: params.pop(k) for k in ("skew_docs", "skew_spans") if k in params}
    giants = gen_corpus(0, seed=seed, include_fixtures=False, **skew) if skew else []
    left = target - sum(_pages(d) for d in giants)
    docs = []
    # a random doc averages several text pages, so `target` docs are plenty
    for doc in gen_corpus(target, seed=seed, **params):
        if left == 0:
            break
        if _pages(doc) <= left:
            docs.append(doc)
            left -= _pages(doc)
    if left:
        raise RuntimeError(f"seed {seed}: {left} of {target} pages not generated")
    return docs + giants


def _read_docs(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def seeded_corpus(repo: str, workdir: str, name: str, seed: int, params: dict) -> Corpus:
    """``generate(seed, params)`` as a parquet file, cached by content key."""
    from page_evaluator_spark.corpus import write_corpus_parquet

    key = _generator_key(repo, params)
    base = os.path.join(workdir, "corpus", f"{name}-seed{seed}-{key}")
    path, meta = base + ".parquet", base + ".json"
    if os.path.exists(path) and os.path.exists(meta):
        with open(meta) as fh:
            fp = json.load(fh)
        return Corpus(path, _read_docs(path), fp)
    os.makedirs(os.path.dirname(base), exist_ok=True)
    params = dict(params)
    row_group = params.pop("row_group_size", 256)
    docs = generate(seed, params)
    tmp = f"{path}.{os.getpid()}.tmp"
    write_corpus_parquet(tmp, docs, row_group_size=row_group)
    os.replace(tmp, path)
    spans = [s for d in docs for s in d["spans"]]
    fp = {"docs": len(docs), "spans": len(spans),
          "pages": sum(_pages(d) for d in docs),
          "bytes": os.path.getsize(path), "digest": _content_digest(docs),
          "generator_key": key, "seed": seed}
    with open(meta + ".tmp", "w") as fh:
        json.dump(fp, fh)
    os.replace(meta + ".tmp", meta)
    return Corpus(path, docs, fp)
