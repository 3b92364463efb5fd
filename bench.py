"""Per-round benchmark (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec",
"queries": {name: sec}, "sf", plus extraction throughput fields
(docs_per_sec, mb_per_sec) since BASELINE.json's primary metric is
documents/sec + MB/sec for the extraction job}.

Queries are materialized with the noop sink (full computation, no
driver collect) so timing measures the distributed plan, not
driver-side serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from xhtmlkit_spark.functions.spans import span_text_chars  # noqa: E402
from xhtmlkit_spark.session import get_spark  # noqa: E402

# FROZEN round-1 set — core12_total is computed over exactly these 12
# every round, so BENCH_rNN totals compare directly across rounds even
# as the headline grows (the headline total changed size r1→r2→r3 and
# was never round-comparable).
CORE12 = [
    "extract_spans",
    "q01_pricing_summary",
    "q03_top_unshipped",
    "q05_region_revenue",
    "running_user_value",
    "hourly_event_stats",
    "except_custkeys",
    "embedding_explode",
    "dedup_exact",
    "minhash_signatures",
    "cosine_topk",
    "token_counts",
]

HEADLINE = CORE12 + [
    "select_spans",
    "dedup_groups",
    "line_dedup_stats",
    # round-3 second-half additions
    "select_html_spans",
    "url_host_policy",
    "markdown_docs",
    "doc_links",
    # round-4 additions: the fused one-parse harvests (3.61× / 2.43× /
    # 1.95× vs per-op parses in PLANS.md) tracked round-over-round
    "harvest_all",
    "page_meta",
    "project_docs",
    # round-5 addition: corpus-self exact-substring dedup (quarter-
    # sampled like its contract twin; the single-row-group testdata
    # parquet serializes every documents-table scan — an input
    # artifact shared by all documents entries, not a plan property)
    "duplicate_passages",
]


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    sf = float(sf_tag.replace("sf", "") or 0.1) if sf_tag.startswith("sf") else 0.1

    spark = get_spark(f"local[{cpus}]")

    # corpus input volume for throughput metrics (computed outside timing)
    corpus_path = entry._corpus_path(sf_dir)
    corpus = spark.read.parquet(corpus_path)
    row = corpus.agg(
        F.count("*").alias("docs"), F.sum(span_text_chars()).alias("chars")
    ).collect()[0]
    n_docs, n_chars = row["docs"], row["chars"]

    qs = entry.queries()
    # Warmup so the first timed query isn't cold: q01 exercises the JVM
    # (codegen, parquet reader); the smoke-scale extract spins up all
    # Python workers and their imports (pyarrow/pandas/xkit), which
    # otherwise cost ~10 s inside the first timed mapInArrow stage.
    materialize(qs["q01_pricing_summary"](spark, sf_dir))
    materialize(entry.entry(spark))

    # Best-of-3 per query (the protocol BENCH/BASELINE.md documents):
    # the sandbox is a shared host with sporadic CPU-steal bursts
    # (±30% wall-time noise — see BENCH/BASELINE.md); min approximates
    # the uncontended machine, same methodology as the scaling bench.
    times: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            materialize(qs[name](spark, sf_dir))
            best = min(best, time.monotonic() - t0)
        times[name] = round(best, 3)

    # Host-state indicator: the sandbox is a multi-tenant box whose
    # co-tenant load varies 3-5x across hours (BENCH/BASELINE.md
    # appendix). This ~10 s mp.Pool control measures what the machine
    # itself delivers RIGHT NOW for the identical per-document work —
    # quiet reference ≈ 200-270 — so a degraded headline is
    # attributable to the box, not the engine.
    # (subprocess, not in-process mp.Pool: forking the JVM-attached
    # driver is deadlock-prone)
    try:
        import subprocess

        res = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "scripts", "host_probe.py"),
             "--widths", "32", "--repeats", "2"],
            capture_output=True, text=True, timeout=120,
        )
        host = json.loads(res.stdout.strip().splitlines()[-1])["mp32_mb_per_sec"]
    except Exception:
        host = None

    ext = times["extract_spans"]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "core12_total": round(sum(times[q] for q in CORE12), 3),
        "queries": times,
        "sf": sf,
        "extract_docs": n_docs,
        "extract_mb": round(n_chars / 1e6, 2),
        "docs_per_sec": round(n_docs / ext, 1) if ext else None,
        "mb_per_sec": round(n_chars / 1e6 / ext, 2) if ext else None,
        "cpus": int(cpus),
        "host_mp32_mb_per_sec": host,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
