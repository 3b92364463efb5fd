"""The workloads: seeded inputs, the timed job, and its correctness check.

Each workload runs one of the program's public entry points over
generated inputs and compares every document of the result with the
in-process ``xkit`` reference on the same inputs. Why each workload
exists is written in README.md.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil

import pyarrow.parquet as pq

from xkit.dom import repair
from xkit.doc import extract_doc
from xkit.harvest import harvest_links, harvest_meta, harvest_tables
from xkit.options import DEFAULT_OPTIONS
from xkit.project import project_doc
from xkit.tokenizer import tokenize

from inputs import N_PARTS, crawl_corpus, pdf_corpus

CRAWL_DOCS = 1000
PDF_DOCS = 400


class Corpus:
    """A generated corpus on disk plus its documents in memory."""

    def __init__(self, path: str):
        self.path = path
        t = pq.read_table(path, columns=["doc_id", "spans", "part"])
        self.docs: dict = {}
        for doc_id, spans, part in zip(
            t.column("doc_id").to_pylist(),
            t.column("spans").to_pylist(),
            t.column("part").to_pylist(),
        ):
            self.docs[doc_id] = (
                [s["kind"] for s in spans],
                [s["text"] for s in spans],
                [s["media_ref"] for s in spans],
                [s["offset"] for s in spans],
                part,
            )
        self.chars = {d: sum(len(x) for x in v[1] if x) for d, v in self.docs.items()}

    def ids(self, parts=None) -> list:
        return [d for d, v in self.docs.items() if parts is None or v[4] in parts]

    def args(self, doc_id: str) -> tuple:
        return self.docs[doc_id][:4]


def _spans(k, t, m, o) -> list:
    return list(zip(k, t, m, o))


def _extract_reference(args) -> list:
    return _spans(*extract_doc(*args))


def reference_map(fn, corpus: Corpus, width: int) -> dict:
    """``{doc_id: fn(args)}`` over every document, computed in a pool
    of ``width`` processes (the reference is untimed but not free)."""
    ids = corpus.ids()
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(width) as pool:
        values = pool.map(fn, [corpus.args(d) for d in ids], chunksize=16)
    return dict(zip(ids, values))


def _arrow_spans(spans) -> list | None:
    if spans is None:
        return None
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def harvest_reference(kinds, texts, offsets, options=DEFAULT_OPTIONS) -> tuple:
    """``harvest_all``'s columns for one document, composed from the
    ``xkit.harvest`` walkers over one parse per html span."""
    tables, links = [], []
    title = lang = canonical = None
    meta: dict = {}
    t_base = 0
    order = sorted(
        range(len(kinds)),
        key=lambda i: (offsets[i] is None, offsets[i] if offsets[i] is not None else 0, i),
    )
    for i in order:
        if kinds[i] != "html" or texts[i] is None:
            continue
        events = repair(tokenize(texts[i]), fragment=options.fragment)
        rows = harvest_tables(events)
        for t_idx, r_idx, is_header, cells in rows:
            tables.append(
                {"table_idx": t_base + t_idx, "row_idx": r_idx, "is_header": is_header, "cells": cells}
            )
        if rows:
            t_base += rows[-1][0] + 1
        for url, text in harvest_links(events, base=options.base_url):
            links.append({"link_idx": len(links), "url": url, "anchor_text": text})
        t, lg, cn, m = harvest_meta(events, base=options.base_url)
        title = t if title is None else title
        lang = lg if lang is None else lang
        canonical = cn if canonical is None else canonical
        for k, v in m.items():
            meta.setdefault(k, v)
    return tables, links, title, lang, canonical, list(meta.items())


_MISSING = object()


def compare(expected: dict, got: list) -> set:
    """Doc ids whose output is missing, duplicated, unexpected or not
    equal to the reference. ``got`` is a list of ``(doc_id, value)``."""
    seen: dict = {}
    bad: set = set()
    for doc_id, value in got:
        if doc_id in seen or doc_id not in expected:
            bad.add(doc_id)
        seen[doc_id] = value
    for doc_id, value in expected.items():
        if seen.get(doc_id, _MISSING) != value:
            bad.add(doc_id)
    return bad


def tree_bytes(root: str) -> int:
    """Bytes of the data files under ``root``; Spark's hidden ``.crc``
    and ``_SUCCESS`` marker files are not counted."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f[0] not in "._"
    )


class Crawl:
    """``run_pipeline`` with the partitioned write and the manifest.

    ``resume_parts`` > 0 is ``crawl_resume``: before each iteration the
    output and manifest are restored from a snapshot in which the
    first ``resume_parts`` parts are already done."""

    writes = True
    n_docs = CRAWL_DOCS
    make_inputs = staticmethod(crawl_corpus)

    def __init__(self, resume_parts: int = 0):
        self.resume_parts = resume_parts

    def reference(self, corpus: Corpus, width: int) -> dict:
        return reference_map(_extract_reference, corpus, width)

    def prepare(self, spark, corpus: Corpus, work: str) -> None:
        """Build the resume snapshot (untimed)."""
        if not self.resume_parts:
            return
        from pyspark.sql import functions as F

        from xhtmlkit_spark.plans.pipeline import run_pipeline
        from xhtmlkit_spark.sources.io import read_corpus

        done = read_corpus(spark, corpus.path).where(F.col("part") < self.resume_parts)
        run_pipeline(
            spark,
            corpus.path,
            os.path.join(work, "out"),
            os.path.join(work, "manifest"),
            corpus=done,
        )

    def timed_parts(self) -> set:
        return set(range(self.resume_parts, N_PARTS))

    def iterate(self, spark, corpus: Corpus, snapshot: str, it_dir: str, clock) -> dict:
        from xhtmlkit_spark.plans.pipeline import run_pipeline

        out = os.path.join(it_dir, "out")
        man = os.path.join(it_dir, "manifest")
        if self.resume_parts:
            shutil.copytree(os.path.join(snapshot, "out"), out)
            shutil.copytree(os.path.join(snapshot, "manifest"), man)
        before = tree_bytes(it_dir)
        t0 = clock()
        res = run_pipeline(spark, corpus.path, out, man)
        wall = clock() - t0
        # a resumed run leaves the snapshot's files untouched
        written = tree_bytes(it_dir) - before
        return {"wall": wall, "result": res, "out": out, "manifest": man, "bytes_written": written}

    def check(self, expected: dict, corpus: Corpus, run: dict) -> set:
        t = pq.read_table(run["out"], columns=["doc_id", "spans"])
        got = zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist())
        bad = compare(expected, [(d, _arrow_spans(s)) for d, s in got])
        bad |= self._check_manifest(expected, corpus, run["manifest"])
        return bad

    def _check_manifest(self, expected: dict, corpus: Corpus, man: str) -> set:
        """Per-part n_docs / n_spans / n_chars must equal the reference
        totals and each part must be recorded once; every document of
        a part that fails counts as failed."""
        want: dict = {}
        for doc_id, spans in expected.items():
            w = want.setdefault(corpus.docs[doc_id][4], [0, 0, 0])
            w[0] += 1
            w[1] += len(spans)
            w[2] += sum(len(s[1]) for s in spans if s[1] is not None)
        rows = pq.read_table(man, columns=["part", "n_docs", "n_spans", "n_chars"]).to_pylist()
        seen: dict = {}
        for r in rows:
            seen.setdefault(r["part"], []).append([r["n_docs"], r["n_spans"], r["n_chars"]])
        bad_parts = {p for p, w in want.items() if seen.get(p) != [w]}
        bad_parts |= set(seen) - set(want)
        return {d for d in expected if corpus.docs[d][4] in bad_parts}


class NoopStage:
    """A stage materialized into the ``noop`` sink; its output is
    checked once after the timed loop by collecting the same plan."""

    writes = False

    def __init__(self, make_inputs, n_docs: int, reference, frames, normalize):
        self.make_inputs = make_inputs
        self.n_docs = n_docs
        self._reference = reference
        self.frames = frames  # (spark, corpus path) -> the stage's DataFrames
        self._normalize = normalize

    def reference(self, corpus: Corpus, width: int) -> dict:
        return reference_map(self._reference, corpus, width)

    def prepare(self, spark, corpus: Corpus, work: str) -> None:
        pass

    def timed_parts(self) -> None:
        return None

    def iterate(self, spark, corpus: Corpus, snapshot: str, it_dir: str, clock) -> dict:
        t0 = clock()
        for df in self.frames(spark, corpus.path):
            df.write.format("noop").mode("overwrite").save()
        return {"wall": clock() - t0, "result": None, "bytes_written": 0}

    def check(self, spark, expected: dict, corpus: Corpus) -> set:
        """Collect the same plans once and compare every document."""
        rows: dict = {}
        frames = self.frames(spark, corpus.path)
        for df in frames:
            t = df.toArrow()
            ids = t.column("doc_id").to_pylist()
            cols = [
                t.column(c).to_pylist()
                for c in t.column_names
                if c not in ("doc_id", "part")
            ]
            for i, doc_id in enumerate(ids):
                rows.setdefault(doc_id, []).append(tuple(col[i] for col in cols))
        return compare(
            expected,
            [(d, self._normalize(v) if len(v) == len(frames) else None) for d, v in rows.items()],
        )


def _views_reference(args) -> tuple:
    k, t, m, o = args
    (sk, st, sm, so), md, xh = project_doc(k, t, m, o, DEFAULT_OPTIONS, True)
    return ((_spans(sk, st, sm, so), md, xh), harvest_reference(k, t, o))


def _views_frames(spark, path: str) -> list:
    from xhtmlkit_spark.operators.harvest_stage import harvest_all
    from xhtmlkit_spark.operators.project_stage import project_docs
    from xhtmlkit_spark.plans.pipeline import with_size_salt
    from xhtmlkit_spark.sources.io import read_corpus

    df = with_size_salt(read_corpus(spark, path), spark.sparkContext.defaultParallelism * 2)
    return [project_docs(df, want_xhtml=True), harvest_all(df)]


def _pdf_reference(args) -> tuple:
    return (_extract_reference(args),)


def _pdf_frames(spark, path: str) -> list:
    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.sources.io import read_corpus

    return [extract_spans(read_corpus(spark, path))]


def _normalize_views(value: list) -> tuple:
    """Collected (project_docs, harvest_all) columns → the reference's shape."""
    (spans, md, xh), (tables, links, title, lang, canonical, meta) = value
    return (
        (_arrow_spans(spans), md, xh),
        (tables, links, title, lang, canonical, [tuple(kv) for kv in meta] if meta is not None else None),
    )


def _normalize_pdf(value: list) -> tuple:
    ((spans,),) = value
    return (_arrow_spans(spans),)


WORKLOADS = {
    "crawl_full": Crawl(),
    "crawl_resume": Crawl(resume_parts=N_PARTS // 2),
    "views_noop": NoopStage(
        crawl_corpus, CRAWL_DOCS, _views_reference, _views_frames, _normalize_views
    ),
    "pdf_mix": NoopStage(pdf_corpus, PDF_DOCS, _pdf_reference, _pdf_frames, _normalize_pdf),
}
