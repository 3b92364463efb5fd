"""Span-array helpers built on Spark higher-order functions (SURVEY.md
B21/B4/B5/B6): relational post-processing on the nested spans column
without ever leaving the JVM — no second Python pass after the
extraction stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "spans_of_kind",
    "span_text_concat",
    "media_refs",
    "explode_spans",
    "renest_spans",
    "span_text_chars",
]


def spans_of_kind(spans: Column | str, kind: str) -> Column:
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.filter(c, lambda s: s["kind"] == F.lit(kind))


def span_text_concat(spans: Column | str, sep: str = "\n") -> Column:
    """All text-span contents joined — the 'document plain text' view."""
    texts = F.transform(spans_of_kind(spans, "text"), lambda s: s["text"])
    return F.array_join(texts, sep)


def span_text_chars(spans: str = "spans") -> Column:
    """Characters of span text per document as a bigint; a NULL text
    counts 0 and a NULL spans array gives NULL. One SQL expression, so
    building it costs one py4j call."""
    return F.expr(
        f"aggregate({spans}, 0L, (acc, s) -> acc + coalesce(cast(length(s.text) as bigint), 0L))"
    )


def media_refs(spans: Column | str) -> Column:
    return F.transform(spans_of_kind(spans, "media"), lambda s: s["media_ref"])


def explode_spans(df: DataFrame, spans: str = "spans") -> DataFrame:
    """One row per span, order kept via pos (B5)."""
    return df.select(
        "doc_id", F.posexplode(spans).alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )


def renest_spans(df: DataFrame) -> DataFrame:
    """Inverse of :func:`explode_spans` (B6): re-nest flat span rows into
    the ordered array shape, offset re-derived from pos order."""
    packed = F.array_sort(
        F.collect_list(F.struct("pos", "kind", "text", "media_ref"))
    )
    spans = F.transform(
        packed,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return df.groupBy("doc_id").agg(spans.alias("spans"))
