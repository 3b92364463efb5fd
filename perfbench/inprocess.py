"""In-process split of the Python layers, for ``--trace 1`` runs.

Times the public ``xkit`` functions (and the Arrow batch mapper of
``operators.extract_stage``) over a fixed sample of the workload's own
documents. Every layer runs once to warm up, then ``ROUNDS`` times in
an order shuffled per round from the run's seed; each layer reports
its fastest round, since co-tenant load on a shared host only ever
adds time. Wall times come from ``perf_counter``, not a profiler:
per-call instrumentation distorts call-heavy code.
"""

from __future__ import annotations

import random
import statistics
import time

import pyarrow.parquet as pq

from xhtmlkit_spark.operators.extract_stage import make_doc_stage_fn
from xkit.doc import extract_doc
from xkit.dom import repair
from xkit.extract import extract_html
from xkit.options import DEFAULT_OPTIONS
from xkit.pdfmini import extract_pdf_text
from xkit.project import project_doc
from xkit.tokenizer import tokenize

from tracing import Tracer, self_times_ns
from workloads import harvest_reference

ROUNDS = 3
SAMPLE_STRIDE = 4  # every 4th document of the corpus
ARROW_BATCH_ROWS = 1024  # get_spark's default maxRecordsPerBatch


def _drain(mapper, batches) -> int:
    return sum(b.num_rows for b in mapper(iter(batches)))


def _traced_drain(tracer: Tracer, mapper, batches) -> int:
    """Drain the mapper with one span per produced batch; its doc_fn
    calls nest inside as child spans."""
    n = 0
    gen = mapper(iter(batches))
    while True:
        with tracer.span("make_doc_stage_fn"):
            b = next(gen, None)
        if b is None:
            return n
        n += b.num_rows


def layer_metrics(corpus, seed: int) -> dict:
    """Per-layer ms and counts over every ``SAMPLE_STRIDE``-th document."""
    ids = corpus.ids()[::SAMPLE_STRIDE]
    docs = [corpus.args(d) for d in ids]
    html = [t for k, ts, _, _ in docs for kind, t in zip(k, ts) if kind == "html" and t]
    pdfs = [t for k, ts, _, _ in docs for kind, t in zip(k, ts) if kind == "pdf" and t]
    tokens = [tokenize(h) for h in html]
    keep = set(ids)
    table = pq.read_table(corpus.path, columns=["doc_id", "part", "spans"])
    table = table.filter([d in keep for d in table.column("doc_id").to_pylist()])
    batches = table.to_batches(max_chunksize=ARROW_BATCH_ROWS)

    def doc_fn(k, t, m, o):
        return extract_doc(k, t, m, o, DEFAULT_OPTIONS)

    mapper = make_doc_stage_fn(doc_fn, 1)
    tracer = Tracer("inprocess")
    traced_mapper = make_doc_stage_fn(tracer.wrap("extract_doc", doc_fn), 1)
    doc_ms: list = []

    def per_doc() -> int:
        doc_ms.clear()
        for d in docs:
            t0 = time.perf_counter()
            extract_doc(*d)
            doc_ms.append((time.perf_counter() - t0) * 1e3)
        return len(docs)

    def traced() -> int:
        tracer.spans.clear()
        return _traced_drain(tracer, traced_mapper, batches)

    layers = {
        "tokenize": lambda: sum(len(tokenize(h)) for h in html),
        "repair": lambda: sum(len(repair(t)) for t in tokens),
        "extract_html": lambda: sum(len(extract_html(h)) for h in html),
        "extract_doc": per_doc,
        "extract_pdf_text": lambda: sum(1 for p in pdfs if extract_pdf_text(p)),
        "project_doc": lambda: sum(1 for d in docs if project_doc(*d, DEFAULT_OPTIONS, True)),
        "harvest": lambda: sum(1 for k, t, _, o in docs if harvest_reference(k, t, o)),
        "mapper": lambda: _drain(mapper, batches),
        "mapper_traced": traced,
    }
    counts = {name: fn() for name, fn in layers.items()}  # warm-up round
    rng = random.Random(seed)
    times: dict = {name: [] for name in layers}
    kernel_self: list = []
    order = list(layers)
    for _ in range(ROUNDS):
        rng.shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            layers[name]()
            times[name].append((time.perf_counter() - t0) * 1e3)
            if name == "mapper_traced":
                kernel_self.append(self_times_ns(tracer.spans)["make_doc_stage_fn"]["self_ns"] / 1e6)
    ms = {name: min(v) for name, v in times.items()}
    doc_sorted = sorted(doc_ms)
    return {
        "tokenize_ms": ms["tokenize"],
        "tokens": counts["tokenize"],
        "repair_ms": ms["repair"],
        "events": counts["repair"],
        "extract_html_ms": ms["extract_html"],
        "spans": counts["extract_html"],
        "extract_doc_ms": ms["extract_doc"],
        "doc_ms_p50": statistics.median(doc_sorted),
        "doc_ms_p99": doc_sorted[min(len(doc_sorted) - 1, int(0.99 * len(doc_sorted)))],
        "doc_samples": len(doc_sorted),
        "extract_pdf_text_ms": ms["extract_pdf_text"],
        "pdf_spans": len(pdfs),
        "pdf_ok_ratio": counts["extract_pdf_text"] / len(pdfs) if pdfs else 0.0,
        "project_doc_ms": ms["project_doc"],
        "harvest_ms": ms["harvest"],
        "kernel_self_ms": min(kernel_self),
        "trace_overhead_pct": 100.0 * (ms["mapper_traced"] / ms["mapper"] - 1.0),
    }
