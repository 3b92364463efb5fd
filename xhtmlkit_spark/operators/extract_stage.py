"""THE hot-path operator, and the ONE Arrow kernel every per-document
stage runs on (SURVEY.md B26).

Every doc-level stage (extract, select, normalize, markdown, project,
harvest) is a per-document function plus an output column list,
handed to :func:`run_doc_stage`. Kernel contract:

* ``doc_fn(kinds, texts, refs, offsets)`` gets one document's input
  spans as parallel lists and returns a tuple with ONE value per
  output column, always (a one-column stage returns a 1-tuple).
* ``outputs`` is ``[(name, pa_type), ...]``. A column typed
  :data:`PA_SPANS` takes a ``(kinds, texts, refs, offsets)``
  parallel-list value and is assembled as flat child arrays + list
  offsets; any other column is ``pa.array(values, pa_type)``.
* A NULL spans row is NULL in every output column — never ``[]`` or
  ``""``; ``doc_fn`` is not called for it.
* The Spark schema is derived from the Arrow types
  (``from_arrow_type``), so every type — the span struct included —
  is declared once, in Arrow.

Boundary discipline (BASELINE.json "no per-row Python anywhere in the
hot path"):

* I/O crosses the JVM↔Python boundary as Arrow RecordBatches only;
  no row-wise ``@udf`` exists anywhere in this repo.
* Inside a batch, span columns are accessed as *flat* child arrays
  (one ``to_pylist`` per column per batch — a C-level columnar copy),
  sliced per document by the list offsets; output spans are assembled
  as flat arrays + list offsets via ``pa.ListArray.from_arrays`` —
  no per-row list-of-dict materialization in either direction.
* Passthrough columns (e.g. ``part`` for checkpointing) are copied
  column-wise, untouched by Python.

Column pruning: :func:`run_doc_stage` selects only
``doc_id, *passthrough, spans`` before the stage, so Catalyst prunes
everything else out of the parquet scan (SURVEY.md §4.2).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from xhtmlkit_spark.functions.spans import span_text_chars
from xkit.doc import extract_doc
from xkit.options import DEFAULT_OPTIONS, ExtractOptions

__all__ = [
    "PA_SPANS",
    "SPAN_STRUCT",
    "SPANS_OUT",
    "SPANS_TYPE",
    "extract_spans",
    "make_doc_stage_fn",
    "run_doc_stage",
    "span_metrics",
    "unpack_spans",
]

_PA_SPAN = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
PA_SPANS = pa.list_(_PA_SPAN)
SPANS_TYPE = from_arrow_type(PA_SPANS)
SPAN_STRUCT = SPANS_TYPE.elementType
SPANS_OUT = (("spans", PA_SPANS),)  # outputs of a spans-in/spans-out stage


def unpack_spans(batch: pa.RecordBatch, spans_idx: int):
    """Flat-column view of a batch's spans ListArray: returns
    ``(offs, kind_l, text_l, ref_l, off_l, nulls, n_rows)``. Handles
    the sliced-batch case (``lists.offset != 0`` — re-materialized so
    ``.offsets`` indexes ``.values``) and the row-validity mask for
    the doc-stage kernel (:func:`run_doc_stage`)."""
    lists = batch.column(spans_idx)
    if lists.offset != 0:
        lists = pa.concat_arrays([lists])
    vals = lists.values
    return (
        lists.offsets.to_pylist(),
        vals.field("kind").to_pylist(),
        vals.field("text").to_pylist(),
        vals.field("media_ref").to_pylist(),
        vals.field("offset").to_pylist(),
        lists.is_valid().to_pylist() if lists.null_count else None,
        len(lists),
    )


def _build_column(values, pa_type: pa.DataType) -> pa.Array:
    """One output column from its per-row values (None = NULL row)."""
    if pa_type != PA_SPANS:
        return pa.array(values, pa_type)
    ok: list = []
    ot: list = []
    om: list = []
    oo: list = []
    # a None start offset marks the row's output list as NULL (pyarrow
    # reads the row's end from the next non-null offset)
    list_offs: list = []
    for v in values:
        if v is None:
            list_offs.append(None)
            continue
        list_offs.append(len(ok))
        k, t, m, o = v
        ok += k
        ot += t
        om += m
        oo += o
    list_offs.append(len(ok))
    struct = pa.StructArray.from_arrays(
        [
            pa.array(ok, pa.string()),
            pa.array(ot, pa.string()),
            pa.array(om, pa.string()),
            pa.array(oo, pa.int32()),
        ],
        fields=list(_PA_SPAN),
    )
    return pa.ListArray.from_arrays(pa.array(list_offs, pa.int32()), struct)


def _doc_kernel(doc_fn, outputs: Sequence, n_passthrough: int):
    """The Arrow-batch mapper for ``doc_fn`` (module docstring has the
    contract). Batches arrive as ``[doc_id, <n_passthrough cols>,
    spans]`` and leave as ``[doc_id, <n_passthrough cols>, *outputs]``."""
    types = [t for _, t in outputs]
    out_fields = [pa.field(n, t) for n, t in outputs]
    null_row = (None,) * len(outputs)

    def doc_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        spans_idx = n_passthrough + 1
        for batch in batches:
            offs, kind_l, text_l, ref_l, off_l, nulls, n_rows = unpack_spans(
                batch, spans_idx
            )
            values: list = [[] for _ in types]
            for i in range(n_rows):
                if nulls is None or nulls[i]:
                    s, e = offs[i], offs[i + 1]
                    row = doc_fn(kind_l[s:e], text_l[s:e], ref_l[s:e], off_l[s:e])
                else:
                    row = null_row
                for col, v in zip(values, row, strict=True):
                    col.append(v)
            cols = [batch.column(j) for j in range(spans_idx)] + [
                _build_column(v, t) for v, t in zip(values, types)
            ]
            yield pa.RecordBatch.from_arrays(cols, schema=pa.schema(
                [batch.schema.field(j) for j in range(spans_idx)] + out_fields
            ))

    return doc_batches


def make_doc_stage_fn(doc_fn, n_passthrough: int):
    """Kernel adapter for a spans-in/spans-out ``doc_fn(kinds, texts,
    refs, offsets) -> (k, t, m, o)`` (extract_doc, select_doc, ...):
    one output column, ``spans``."""
    return _doc_kernel(
        lambda k, t, m, o: (doc_fn(k, t, m, o),), SPANS_OUT, n_passthrough
    )


def run_doc_stage(
    df: DataFrame, doc_fn, outputs: Sequence, passthrough: tuple
) -> DataFrame:
    """Prune to ``doc_id, *passthrough, spans`` (Catalyst pushes the
    column pruning into the scan) and run ``doc_fn`` over every
    document in ONE mapInArrow; output ``doc_id, *passthrough,
    *outputs`` (see the module docstring for the contract)."""
    pt = [c for c in passthrough if c in df.columns]
    pruned = df.select("doc_id", *pt, "spans")
    out_schema = T.StructType(
        [T.StructField("doc_id", T.StringType())]
        + [pruned.schema[c] for c in pt]
        + [T.StructField(n, from_arrow_type(t)) for n, t in outputs]
    )
    return pruned.mapInArrow(_doc_kernel(doc_fn, outputs, len(pt)), out_schema)


def extract_spans(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """Run main-content extraction over a corpus DataFrame.

    Input: ``doc_id string, spans array<struct<...>>`` (+ any extra
    columns; those named in ``passthrough`` survive, everything else
    is pruned before the Python boundary). Output: same shape with
    extracted spans (kind ∈ {text, media}).
    """

    def doc_fn(kinds, texts, refs, offsets):
        return (extract_doc(kinds, texts, refs, offsets, options),)

    return run_doc_stage(df, doc_fn, SPANS_OUT, passthrough)


def span_metrics(df: DataFrame) -> DataFrame:
    """JVM-side per-doc metrics over a spans column (no Python):
    n_spans, n_text_spans, n_media_spans, n_chars."""
    spans = F.col("spans")
    return df.withColumns(
        {
            "n_spans": F.size(spans),
            "n_text_spans": F.size(F.filter(spans, lambda s: s["kind"] == F.lit("text"))),
            "n_media_spans": F.size(F.filter(spans, lambda s: s["kind"] == F.lit("media"))),
            "n_chars": span_text_chars(),
        }
    )
