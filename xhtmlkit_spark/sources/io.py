"""Source/sink abstraction (SURVEY.md B1/B2).

Prod target is Iceberg (BASELINE.json north_rule: "over Iceberg
tables"); the sandbox has no Iceberg runtime jar and no network to
fetch one (SURVEY.md §0), so the default format is parquet with an
identical partition layout (``part`` column → directory partition).
Switching to Iceberg is a config swap: ``fmt="iceberg"`` routes reads
through ``spark.read.format("iceberg").load(table)`` and writes
through ``writeTo(table).overwritePartitions()``; everything else in
the pipeline (partition column, checkpoint manifest, resume
filter) is format-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "read_corpus",
    "ingest_html_files",
    "ingest_warc",
    "warc_cdx",
    "write_wet",
    "write_spans",
    "write_bucketed",
    "read_manifest",
    "append_manifest",
]


def ingest_html_files(
    spark: SparkSession, location: str, glob: str = "*.html", recursive: bool = False
) -> DataFrame:
    """Raw HTML files → corpus-shaped rows (the file-based analogue of
    the reference's parse-from-source entry point, A2/A3/A4).

    ``binaryFile`` scans the directory; encoding is sniffed per file
    (BOM → <meta> → UTF-8 fallback, xkit.encoding — never raises) in a
    mapInPandas stage, and each file becomes one ``(doc_id, spans)``
    row with a single html span, ready for extract_spans /
    select_spans / run_pipeline. ``*.pdf`` files (pass e.g.
    ``glob="*.{html,pdf}"`` or ``"*"``) become ``pdf`` spans with the
    bytes latin-1-lossless in the string column — the file-based
    entry point for the INTERLEAVED corpus shape, one pipeline for
    both dialects. doc_id = the file path RELATIVE to the
    ingest root (bare basenames collide under recursiveFileLookup or
    when several ingest roots are unioned — subdir/a.html and b/a.html
    must stay distinct docs; falls back to the full scheme-stripped
    path if the root isn't a prefix). Scale shape: the binaryFile
    source splits across executors by file; giant single files are the
    input-side skew with_size_salt then handles.
    """
    import os
    import re
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from xhtmlkit_spark.operators.extract_stage import SPANS_TYPE
    from xkit.encoding import decode_html_bytes

    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    raw = reader.load(location).select("path", "content")

    # resolved on the driver, closure-captured: binaryFile paths come
    # back as file: URIs over absolute paths
    root_abs = os.path.abspath(location).rstrip("/")
    _scheme = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/{0,2}(?=/)")

    def _doc_id(path: str) -> str:
        p = _scheme.sub("", path)
        if p.startswith(root_abs + "/"):
            return p[len(root_abs) + 1 :]
        return p if p != root_abs else p.rsplit("/", 1)[-1]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if path.lower().endswith(".pdf"):
                    # PDF bytes ride the corpus's string column
                    # latin-1 (lossless bytes↔str), the same convention
                    # datagen uses for fixture-PDF spans; extract_doc's
                    # pdf branch accepts either form
                    kind, text = "pdf", raw.decode("latin-1")
                else:
                    kind, text = "html", decode_html_bytes(raw)
                rows.append(
                    {
                        "doc_id": _doc_id(path),
                        "spans": [
                            {
                                "kind": kind,
                                "text": text,
                                "media_ref": None,
                                "offset": 0,
                            }
                        ],
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("spans", SPANS_TYPE)]
    )
    return raw.mapInPandas(decode, schema)


def ingest_warc(
    spark: SparkSession, location: str, glob: str = "*.warc{,.gz}", recursive: bool = False
) -> DataFrame:
    """WARC archives (the Common Crawl container format) → corpus rows.

    ``binaryFile`` scans ``*.warc`` / ``*.warc.gz``; each archive is
    parsed in a mapInPandas stage (xkit.warc, stdlib-only: gzip-member
    iteration, record framing, HTTP de-chunk + content-decoding), and
    every 2xx ``response`` record whose payload is HTML/XHTML or PDF
    becomes one corpus row:

        doc_id        the WARC-Target-URI (plus ``#dupN`` when a URI
                      repeats inside one archive, so a single-archive
                      ingest is unique by construction). The same URI
                      captured in SEVERAL archives yields several rows
                      with the same doc_id on purpose: those are
                      re-fetches of one document, and which capture
                      wins is a policy decision for the downstream
                      dedup operators (url_normalize + exact dedup on
                      content hash), not the ingest — a global
                      uniqueness pass here would be a full shuffle
                      before any filtering.
        url           the raw target URI
        fetched_at    WARC-Date (string, ISO-8601 as captured)
        http_status   int
        mime          media type from the HTTP Content-Type (lowercased,
                      parameters stripped)
        spans         single html/pdf span, same shape as
                      ingest_html_files — pipe straight into
                      extract_spans(..., passthrough=("url", ...)).

    HTML charset: HTTP header hint → xkit.encoding sniff (BOM → meta →
    fallback), the same chain a browser applies. PDF bytes ride
    latin-1-lossless, the corpus convention. Non-document mimes
    (images, scripts) and non-response records (request, metadata,
    warcinfo, revisit) are dropped here — at 100 TB the drop happens
    before the bytes cross the Arrow boundary twice.

    Scale shape: one task per archive file (Common Crawl ships ~1 GB
    .warc.gz segments, thousands per crawl — natural parallelism);
    a re-partition after ingest rebalances giant-archive skew.
    """
    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    raw = reader.load(location).select("content")
    return raw.mapInPandas(_parse_warc_batches, _warc_corpus_schema())


_WARC_HTML_MIMES = ("text/html", "application/xhtml+xml")


def _warc_corpus_schema():
    from pyspark.sql import types as T

    from xhtmlkit_spark.operators.extract_stage import SPANS_TYPE

    return T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("fetched_at", T.StringType()),
            T.StructField("http_status", T.IntegerType()),
            T.StructField("mime", T.StringType()),
            T.StructField("spans", SPANS_TYPE),
        ]
    )


def _parse_warc_batches(batches):
    """mapInPandas body shared by ingest_warc (batch) and
    streaming_warc_extract (continuous): archive bytes → corpus rows."""
    import pandas as pd

    from xkit.encoding import decode_html_bytes
    from xkit.warc import http_payload, iter_warc

    cols = ["doc_id", "url", "fetched_at", "http_status", "mime", "spans"]
    for pdf in batches:
        rows = []
        for content in pdf["content"]:
            seen: dict[str, int] = {}
            for rec in iter_warc(bytes(content)):
                if rec.warc_type != "response":
                    continue
                status, hdrs, body = http_payload(rec)
                if status is None or not (200 <= status < 300):
                    continue
                ctype = hdrs.get("content-type", "")
                mime = ctype.split(";", 1)[0].strip().lower()
                if mime in _WARC_HTML_MIMES:
                    kind = "html"
                    charset = None
                    if "charset=" in ctype.lower():
                        charset = ctype.lower().split("charset=", 1)[1].split(";")[0].strip(" \"'")
                    text = decode_html_bytes(body, http_charset=charset)
                elif mime == "application/pdf":
                    kind, text = "pdf", body.decode("latin-1")
                else:
                    continue
                uri = rec.target_uri or rec.record_id or "urn:unknown"
                n = seen.get(uri, 0)
                seen[uri] = n + 1
                rows.append(
                    {
                        "doc_id": uri if n == 0 else f"{uri}#dup{n}",
                        "url": uri,
                        "fetched_at": rec.date,
                        "http_status": status,
                        "mime": mime,
                        "spans": [
                            {"kind": kind, "text": text, "media_ref": None, "offset": 0}
                        ],
                    }
                )
        yield pd.DataFrame(rows, columns=cols)


def warc_cdx(
    spark: SparkSession, location: str, glob: str = "*.warc{,.gz}", recursive: bool = False
) -> DataFrame:
    """Build a CDX(J) capture index over WARC archives — the third leg
    of the crawl-ecosystem triangle (ingest_warc reads, write_wet
    exports, warc_cdx makes archives randomly addressable): one row per
    ``response`` record with

        urlkey     SURT form of the target URI (xkit.warc.surt —
                   reversed-host sort key, so a host's captures sort
                   adjacently and http/https/www collide)
        timestamp  WARC-Date as the 14-digit CDX form
        url, mime, status
        digest     sha1, base32, of the DECODED payload body (after
                   de-chunk + content-decoding — the dedup-relevant
                   bytes; note classic CDX digests the stored payload)
        length, offset  the record's byte span AS STORED (the gzip
                   member for .warc.gz) — a ranged read of
                   [offset, offset+length) yields exactly this record
        filename   archive basename

    Scale shape: one task per archive, pure projection — no shuffle;
    sort by (urlkey, timestamp) at write time if a merged index is
    wanted (that global sort is the index build's only exchange).
    """
    import os
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    raw = reader.load(location).select("path", "content")

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import base64
        import hashlib
        import re as _re

        from xkit.warc import http_payload, iter_warc_offsets, surt

        cols = ["urlkey", "timestamp", "url", "mime", "status", "digest", "length", "offset", "filename"]
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                fname = path.rsplit("/", 1)[-1]
                for rec, off, length in iter_warc_offsets(bytes(content)):
                    if rec.warc_type != "response":
                        continue
                    status, hdrs, body = http_payload(rec)
                    uri = rec.target_uri or ""
                    ts = _re.sub(r"[^0-9]", "", rec.date or "")[:14]
                    rows.append(
                        {
                            "urlkey": surt(uri),
                            "timestamp": ts,
                            "url": uri,
                            "mime": hdrs.get("content-type", "").split(";", 1)[0].strip().lower(),
                            "status": status,
                            "digest": base64.b32encode(hashlib.sha1(body).digest()).decode(),
                            "length": length,
                            "offset": off,
                            "filename": fname,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    schema = T.StructType(
        [
            T.StructField("urlkey", T.StringType()),
            T.StructField("timestamp", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("mime", T.StringType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("digest", T.StringType()),
            T.StructField("length", T.LongType()),
            T.StructField("offset", T.LongType()),
            T.StructField("filename", T.StringType()),
        ]
    )
    return raw.mapInPandas(index, schema)


def write_wet(
    df: DataFrame,
    location: str,
    software: str = "spark-xkit",
    compress: bool = True,
) -> list[dict]:
    """Extracted corpus → WET archives (Common Crawl's extracted-text
    exchange format): the symmetric sink to :func:`ingest_warc`.

    Input is the post-extract shape (``doc_id``, ``spans``; optional
    ``url`` / ``fetched_at`` passthroughs are used for
    WARC-Target-URI / WARC-Date, falling back to doc_id / epoch). Each
    partition becomes one ``part-NNNNN.warc.wet[.gz]`` holding a
    leading ``warcinfo`` record plus one ``conversion`` record per doc
    (Content-Type text/plain, body = text spans joined by newlines,
    UTF-8). Record IDs are md5(doc_id)-derived urn:uuids, and gzip
    members carry mtime=0 — the whole export is byte-deterministic
    given the same partitioning, so a retried/re-run job overwrites
    with identical files.

    Scale shape: the text join happens JVM-side (higher-order filter +
    array_join) so only final strings cross the Arrow boundary; each
    task streams its partition to a temp file and os.replace()s it
    into place (atomic on a POSIX dir — speculative twin attempts
    collide harmlessly because content is deterministic). Returns the
    per-file manifest [{path, n_records}] — one row per non-empty
    partition, tiny by construction.
    """
    import os

    from pyspark.sql import functions as F

    os.makedirs(location, exist_ok=True)

    cols = set(df.columns)
    proj = df.select(
        F.col("doc_id"),
        (F.col("url") if "url" in cols else F.col("doc_id")).alias("uri"),
        (
            F.col("fetched_at")
            if "fetched_at" in cols
            else F.lit("1970-01-01T00:00:00Z")
        ).alias("date"),
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text"),
    )

    def write_partition(batches):
        import gzip as _gzip
        import hashlib
        import uuid as _uuid
        from pyspark import TaskContext

        from xkit.warc import build_record

        ctx = TaskContext.get()
        pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        ext = ".warc.wet.gz" if compress else ".warc.wet"
        final = os.path.join(location, f"part-{pid:05d}{ext}")
        # TEMP files: leading dot (Spark file sources skip hidden
        # files) and a non-archive suffix — a crashed task's leftover
        # must never be ingested. The FINAL part-NNNNN.warc.wet.gz
        # names sit outside ingest_warc/warc_cdx's default
        # '*.warc{,.gz}' glob too, so a WET export dir pointed back at
        # the WARC readers is skipped rather than re-decompressed
        tmp = os.path.join(location, f".wet-{pid:05d}.{attempt}.tmp")

        # records STREAM to the temp file one at a time (gzip members
        # are independent, so per-record compression preserves the
        # byte-deterministic layout) — building the whole archive in a
        # list first would hold ~2× the partition's text in Python
        # memory at once
        f = None
        n = 0
        done = False
        try:
            for pdf in batches:
                for doc_id, uri, date, text in zip(
                    pdf["doc_id"], pdf["uri"], pdf["date"], pdf["text"]
                ):
                    if f is None:
                        f = open(tmp, "wb")
                        info = build_record(
                            "warcinfo",
                            f"software: {software}\r\nformat: WARC File Format 1.0\r\n".encode(),
                            content_type="application/warc-fields",
                            record_id=f"<urn:uuid:{_uuid.UUID(bytes=hashlib.md5(f'warcinfo-{pid}'.encode()).digest())}>",
                        )
                        f.write(_gzip.compress(info, mtime=0) if compress else info)
                    rid = _uuid.UUID(bytes=hashlib.md5(str(doc_id).encode()).digest())
                    rec = build_record(
                        "conversion",
                        str(text).encode("utf-8"),
                        target_uri=str(uri),
                        date=str(date) if date is not None else "1970-01-01T00:00:00Z",
                        record_id=f"<urn:uuid:{rid}>",
                        content_type="text/plain",
                    )
                    f.write(_gzip.compress(rec, mtime=0) if compress else rec)
                    n += 1
            done = True
        finally:
            if f is not None:
                f.close()
                if not done:
                    # mid-stream failure (exception, task kill): remove
                    # the truncated temp archive instead of leaving it
                    try:
                        os.remove(tmp)
                    except OSError:
                        pass
        if n:
            os.replace(tmp, final)
            import pandas as pd

            yield pd.DataFrame([{"path": final, "n_records": n}])

    from pyspark.sql import types as T

    manifest_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("n_records", T.LongType()),
        ]
    )
    return [r.asDict() for r in proj.mapInPandas(write_partition, manifest_schema).collect()]


def read_corpus(spark: SparkSession, location: str, fmt: str = "parquet") -> DataFrame:
    """Corpus rows from any supported source: the landed table
    (parquet/Iceberg) or raw crawls (``warc`` = Common Crawl archives,
    ``html`` = a directory tree of .html/.pdf files) — so run_pipeline
    drives the same stages over every input shape."""
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    if fmt == "warc":
        return ingest_warc(spark, location)
    if fmt == "html":
        # NOT glob="*": a crawl tree holds logs/_SUCCESS/README next to
        # the documents, and every stray file would become an "html" row
        return ingest_html_files(
            spark, location, glob="*.{html,htm,xhtml,pdf}", recursive=True
        )
    return spark.read.parquet(location)


def write_spans(df: DataFrame, location: str, fmt: str = "parquet") -> None:
    """Partition-aware sink: only the ``part`` values present in ``df``
    are (over)written — requires partitionOverwriteMode=dynamic, set by
    session.get_spark — so a resumed run never clobbers finished parts."""
    if fmt == "iceberg":
        df.writeTo(location).overwritePartitions()
        return
    df.write.mode("overwrite").partitionBy("part").parquet(location)


def read_manifest(spark: SparkSession, location: str) -> DataFrame | None:
    """The manifest table, or None when ``location`` does not exist
    (first run). The check goes through the Hadoop FileSystem of the
    session's configuration; any other failure — a corrupt or
    unreadable manifest — raises rather than turning resume off."""
    path = spark._jvm.org.apache.hadoop.fs.Path(location)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not path.getFileSystem(conf).exists(path):
        return None
    return spark.read.parquet(location)


def append_manifest(df: DataFrame, location: str) -> None:
    df.write.mode("append").parquet(location)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    """Bucketed+sorted managed table — the co-located-join layout.

    Two tables bucketed the same way on the join key sort-merge join
    WITHOUT a shuffle on either side (the scan is already
    hash-clustered and sorted): at 100 TB this turns the dominant
    equi-join cost from 2 full exchanges into 0. Spark's bucketing
    only applies through the catalog (``saveAsTable``) — a plain
    parquet path write silently drops the bucket metadata, which is
    why this helper exists instead of a flag on write_spans. On the
    Iceberg target the equivalent is a ``bucket(n, col)`` partition
    transform plus storage-partitioned joins.
    """
    (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
