"""Exchange effectiveness report (BASELINE.md protocol item 4).

Measures, for the same corpus under four partitionings, the per-task
byte distribution feeding the Python extraction stage and the number
of files a ``partitionBy("part")`` write of each would produce (one
per distinct (task, part) pair):

* by `part` alone — the naive choice (it's the checkpoint unit): only
  n_parts tasks ever get data, so max/median explodes at any
  parallelism above n_parts;
* random hash of doc_id — balances counts but lets the log-normal
  giants collide, and every task writes every part;
* (size_bucket, salt) — ``with_size_salt``: groups docs of similar
  cost and spreads each bucket; every task still writes every part;
* part-placed — ``run_pipeline``'s exchange: per-part counts, whole
  parts per task, a part larger than a task's share cut at the task
  boundaries inside it.

Writes BENCH/SKEW.md.   Run: python scripts/skew_report.py [--docs N]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    import argparse

    from pyspark.sql import functions as F

    from xhtmlkit_spark.datagen import generate_corpus
    from xhtmlkit_spark.plans.pipeline import place_parts, with_size_salt
    from xhtmlkit_spark.session import get_spark

    ap = argparse.ArgumentParser(description="per-task bytes and files per exchange")
    ap.add_argument("--docs", type=int, default=120000, help="corpus size (seed 42)")
    n_docs = ap.parse_args().docs
    n_partitions = 64
    corpus = generate_corpus(
        os.path.join(REPO, "data", f"corpus_skew_{n_docs}.parquet"),
        n_docs,
        seed=42,
        chunk_docs=1000,
    )
    spark = get_spark("local[8]")
    zero = F.lit(0).cast("long")

    def with_doc_bytes(frame):
        return frame.withColumn(
            "doc_bytes",
            F.aggregate(
                "spans", zero, lambda a, s: a + F.coalesce(F.length(s["text"]).cast("long"), zero)
            ),
        )

    raw = spark.read.parquet(corpus)
    df = with_doc_bytes(raw)
    counts = {r["part"]: r["count"] for r in raw.groupBy("part").count().collect()}
    n_parts = len(counts)
    text_mb = df.agg(F.sum("doc_bytes")).first()[0] / 1e6

    def task_bytes(frame) -> tuple[list[int], int]:
        """Span-text bytes per task, and the distinct (task, part)
        pairs: the files a partitionBy("part") write would produce."""
        rows = (
            frame.withColumn("pid", F.spark_partition_id())
            .groupBy("pid", "part")
            .agg(F.sum("doc_bytes").alias("b"))
            .collect()
        )
        got: dict = {}
        for r in rows:
            got[r["pid"]] = got.get(r["pid"], 0) + r["b"]
        return [got.get(i, 0) for i in range(n_partitions)], len(rows)

    variants = {
        "by part (naive)": task_bytes(df.repartition(n_partitions, "part")),
        "random hash(doc_id)": task_bytes(
            df.repartition(n_partitions, F.crc32(F.col("doc_id").cast("binary")))
        ),
        "size_bucket + salt (with_size_salt)": task_bytes(
            with_doc_bytes(with_size_salt(raw, n_partitions))
        ),
        "part-placed (run_pipeline)": task_bytes(place_parts(df, counts, n_partitions)),
    }

    lines = [
        "# BENCH/SKEW — exchange effectiveness before the Python stage (B24)",
        "",
        f"Same {n_docs:,}-doc corpus (datagen seed 42, {text_mb:.0f} MB span text,",
        f"log-normal sizes, top-1% ≈ 100× median, {n_parts} parts), {n_partitions} target",
        "partitions; bytes of span text per task feeding the Python extraction",
        "stage. A straggler task = wasted cluster at the end of every wave;",
        "`max/median` is the stretch factor. `files` = distinct (task, part)",
        'pairs, the files a `partitionBy("part")` write of that layout produces.',
        f"Regenerate: `python scripts/skew_report.py --docs {n_docs}`.",
        "",
        "| partitioning | non-empty tasks | median MB | max MB | max/median | files |",
        "|---|---|---|---|---|---|",
    ]
    summary = {}
    for name, (bs, files) in variants.items():
        nz = [b for b in bs if b > 0]
        med = statistics.median(nz) if nz else 0
        mx = max(bs) if bs else 0
        ratio = round(mx / med, 2) if med else float("inf")
        lines.append(
            f"| {name} | {len(nz)}/{n_partitions} | {med/1e6:.1f} | {mx/1e6:.1f} | {ratio} | {files} |"
        )
        summary[name] = {"nonempty": len(nz), "median_mb": round(med / 1e6, 2),
                         "max_mb": round(mx / 1e6, 2), "max_over_median": ratio,
                         "files": files}
    lines += [
        "",
        "Reading: partitioning by the checkpoint key alone leaves most of the",
        f"cluster idle (at most {n_parts} of {n_partitions} tasks carry everything). Random",
        "hashing fixes counts but giant documents still land wherever they",
        "land, and, like (⌈log2(doc_bytes)⌉, crc32(doc_id)%256), it makes every",
        "task write every part: files ≈ tasks × parts, growing with the",
        "cluster. The part-placed exchange that `run_pipeline` uses counts",
        "documents per part in one column-pruned job and gives each task a",
        "contiguous run of whole parts worth about docs/tasks, cutting a",
        "larger part at the task boundaries inside it (xxhash64(doc_id)",
        "places each document in the part). Files drop to at most",
        "parts + tasks, and balance is set by document count, not hash",
        "collisions. Like the salt, it works *inside* the mapInArrow stage",
        "where AQE cannot see.",
        "",
        "`with_size_salt` stays for the per-doc stages that write no",
        "partitioned output: its size bucket makes each task's documents",
        "cost-homogeneous, which bounds the Python worker's per-Arrow-batch",
        "memory (a batch of maxRecordsPerBatch similar-sized docs has",
        "predictable bytes, while a random mix can stack several multi-MB",
        "giants into one batch). The composite key pays a small evenness",
        "tax from (bucket, salt) collisions, mitigated by salt_buckets ≥ 4×",
        "partitions (64 salts gave 1.77 max/median on the 120k corpus, 256",
        "gives ~1.5).",
        "",
        "```json",
        json.dumps(summary, indent=1),
        "```",
    ]
    out = os.path.join(REPO, "BENCH", "SKEW.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps(summary))
    print("wrote", out)


if __name__ == "__main__":
    main()
