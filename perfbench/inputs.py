"""Seeded inputs. The same seed always gives the same corpus.

Two corpora, both in the pipeline's input shape (``doc_id, spans,
part``), written as ``N_FILES`` parquet files and cached by seed:

* :func:`crawl_corpus` — ``datagen.generate_corpus`` documents in the
  default mix, with the corpus's size profile held fixed across seeds
  (see below).
* :func:`pdf_corpus` — every document carries one to three PDF spans
  built by ``xkit.pdfmini``'s fixture makers next to one small HTML
  span, so ``extract_pdf_text`` carries most of the per-document cost.

Why the crawl corpus's size profile is fixed: datagen draws document
sizes from a log-normal with sigma 2, so a corpus's total size is set
by its few largest documents. Over 1,000 documents the total varies
with the seed by about 11% (interquartile range over median), and each
run's MB/s and docs/s would vary with it. So for seed ``s`` the
benchmark generates ``POOL_FACTOR`` times as many documents with seed
``s``. For each document of a fixed profile corpus (seed
``PROFILE_SEED``, same count), it takes the unused pool document
closest in size. The seed still picks every document and its content,
and the size distribution is still datagen's. The total then varies by
about 3% across seeds.
"""

from __future__ import annotations

import bisect
import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from xhtmlkit_spark.datagen import corpus_schema, doc_part, generate_corpus
from xkit import pdfmini

N_PARTS = 16
N_FILES = 8
POOL_FACTOR = 2
PROFILE_SEED = 42


def _done(path: str, stamp: str) -> bool:
    try:
        with open(os.path.join(path, "_SUCCESS")) as f:
            return f.read() == stamp
    except OSError:
        return False


def write_corpus(path: str, table: pa.Table, stamp: str) -> str:
    """Write ``table`` as ``N_FILES`` parquet files (many files, so the
    Spark scan is several tasks) plus a ``_SUCCESS`` stamp."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    per_file = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * per_file, per_file)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, "part-%05d.parquet" % i))
    with open(os.path.join(path, "_SUCCESS"), "w") as f:
        f.write(stamp)
    return path


def span_chars(table: pa.Table) -> list:
    """Span-text characters per document."""
    return [
        sum(len(s["text"]) for s in spans if s["text"] is not None)
        for spans in table.column("spans").to_pylist()
    ]


def match_sizes(pool: list, profile: list) -> list:
    """Indices into ``pool``, one per ``profile`` entry: largest first,
    each takes the unused pool entry closest in log size."""
    order = sorted(range(len(pool)), key=lambda i: pool[i])
    keys = [pool[i] for i in order]
    chosen = []
    for target in sorted(profile, reverse=True):
        j = bisect.bisect_left(keys, target)
        best = min(
            (c for c in (j - 1, j) if 0 <= c < len(keys)),
            key=lambda c: abs(math.log(max(keys[c], 1)) - math.log(max(target, 1))),
        )
        chosen.append(order[best])
        del keys[best], order[best]
    return sorted(chosen)


def _datagen(inputs_dir: str, name: str, seed: int, n_docs: int) -> pa.Table:
    path = generate_corpus(
        os.path.join(inputs_dir, name), n_docs, seed=seed, n_parts=N_PARTS, chunk_docs=n_docs
    )
    return pq.read_table(path).select(["doc_id", "spans", "part"]).cast(corpus_schema())


def crawl_corpus(inputs_dir: str, seed: int, n_docs: int) -> str:
    """``n_docs`` datagen documents of seed ``seed`` whose sizes follow
    the fixed profile (module docstring)."""
    path = os.path.join(inputs_dir, f"crawl-{seed}-{n_docs}")
    stamp = f"crawl:{seed}:{n_docs}:{POOL_FACTOR}:{PROFILE_SEED}"
    if _done(path, stamp):
        return path
    profile = span_chars(_datagen(inputs_dir, f"profile-{n_docs}", PROFILE_SEED, n_docs))
    pool_name = f"pool-{seed}-{n_docs}"
    pool = _datagen(inputs_dir, pool_name, seed, POOL_FACTOR * n_docs)
    chosen = match_sizes(span_chars(pool), profile)
    write_corpus(path, pool.take(pa.array(chosen)), stamp)
    shutil.rmtree(os.path.join(inputs_dir, pool_name), ignore_errors=True)
    return path


def probe_corpus(inputs_dir: str, seed: int, n_docs: int) -> str:
    """A plain datagen corpus, for the host-load control."""
    return generate_corpus(
        os.path.join(inputs_dir, f"probe-{seed}-{n_docs}"), n_docs, seed=seed, n_parts=N_PARTS
    )


_WORDS = (
    "page report figure table section appendix summary result method "
    "sample value invoice total account period revenue archive scan"
).split()


def _lines(rng: random.Random, n: int) -> list:
    return [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 9))).capitalize() + "."
        for _ in range(n)
    ]


def _blocks(rng: random.Random) -> list:
    return [_lines(rng, rng.randint(1, 3)) for _ in range(rng.randint(1, 3))]


# The generations cover the reader's main paths. AES-256 R6 is left
# out: its hardened key hash costs about 0.5 s per document and would
# set the wall alone.
PDF_KINDS = {
    "plain": lambda rng: pdfmini.make_fixture_pdf(_blocks(rng)),
    "flate_pages": lambda rng: pdfmini.make_fixture_pdf(
        pages=[_blocks(rng) for _ in range(rng.randint(2, 4))],
        compress=True,
        streams_per_page=2,
    ),
    "objstm": lambda rng: pdfmini.make_fixture_pdf_15(
        pages=[_blocks(rng) for _ in range(rng.randint(1, 3))]
    ),
    "cid": lambda rng: pdfmini.make_fixture_pdf_cid(" ".join(_lines(rng, 1))),
    "rc4": lambda rng: pdfmini.make_fixture_pdf_encrypted(_blocks(rng), r=3),
    "aes128": lambda rng: pdfmini.make_fixture_pdf_encrypted(
        _blocks(rng), r=4, compress=True
    ),
}


def pdf_doc(seed: int, idx: int) -> tuple:
    """One ``pdf_mix`` document: ``(doc_id, spans, part)``. Each
    document draws from its own ``random.Random``, so a corpus is
    deterministic in (seed, size) and a smaller one is a prefix."""
    rng = random.Random(seed * 1_000_003 + idx)
    doc_id = "p%010d" % idx
    texts = ["<p>%s</p>" % " ".join(_lines(rng, rng.randint(2, 8)))]
    kinds = ["html"]
    for _ in range(rng.randint(1, 3)):
        kinds.append("pdf")
        texts.append(PDF_KINDS[rng.choice(sorted(PDF_KINDS))](rng))
    order = list(range(len(kinds)))
    rng.shuffle(order)
    spans = [
        {"kind": kinds[k], "text": texts[k], "media_ref": None, "offset": o}
        for o, k in enumerate(order)
    ]
    return doc_id, spans, doc_part(doc_id, N_PARTS)


def pdf_corpus(inputs_dir: str, seed: int, n_docs: int) -> str:
    path = os.path.join(inputs_dir, f"pdf-{seed}-{n_docs}")
    stamp = f"pdf_mix:{seed}:{n_docs}"
    if _done(path, stamp):
        return path
    rows = [pdf_doc(seed, i) for i in range(n_docs)]
    table = pa.Table.from_pydict(
        {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows], "part": [r[2] for r in rows]},
        schema=corpus_schema(),
    )
    return write_corpus(path, table, stamp)
