"""Extra benchmarks (guide §1.4 noop-sink isolation) — NOT the driver bench.

Phase-isolates the expensive operators so optimization targets the right
stage. Methodology: warmup pass, then min of N timed passes per phase,
noop sink. Same session config as bench.py.

Usage: python bench_extra.py [minhash|headline] [--sf-dir DIR] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from sonata_neo4j_loader_spark.operators import dedup  # noqa: E402
from sonata_neo4j_loader_spark.session import get_spark  # noqa: E402


def _force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timeit(spark: SparkSession, label: str, make, reps: int = 2) -> float:
    spark.sparkContext.setJobDescription(label)
    _force(make())  # warmup
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        _force(make())
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def minhash_phases(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = {}
    out["n_docs"] = docs.count()
    out["scan_shingle"] = timeit(
        spark,
        "minhash: shingles only",
        lambda: __import__(
            "sonata_neo4j_loader_spark.operators.text", fromlist=["add_shingles"]
        ).add_shingles(docs.select("doc_id", "text"), "text", 5),
        reps,
    )
    out["postings"] = timeit(
        spark,
        "minhash: banded postings",
        lambda: dedup.banded_postings(docs, "doc_id", "text"),
        reps,
    )
    out["candidates"] = timeit(
        spark,
        "minhash: lsh candidates",
        lambda: dedup.minhash_lsh_candidates(docs, "doc_id", "text"),
        reps,
    )
    out["full"] = timeit(
        spark,
        "minhash: full (cands + verify)",
        lambda: dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.6),
        reps,
    )
    cands = dedup.minhash_lsh_candidates(docs, "doc_id", "text")
    out["n_candidates"] = cands.count()
    out["n_cand_docs"] = (
        cands.select(F.col("id_a").alias("d"))
        .union(cands.select("id_b"))
        .distinct()
        .count()
    )
    return out


def headline(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    qs = entry_mod.queries()
    names = [
        "q1_pricing_summary",
        "q3_unshipped_orders",
        "q5_nation_revenue",
        "q16_supplier_variety",
        "q18_large_orders",
        "q21_late_sole_suppliers",
        "top_orders_per_customer",
        "events_sessions",
        "text_stats",
        "dedup_exact_groups",
        "ann_brute_topk",
    ]
    return {n: timeit(spark, n, lambda n=n: qs[n](spark, sf_dir), reps) for n in names}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["minhash", "headline"], default="minhash", nargs="?")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.sql.files.maxPartitionBytes": "8m"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = {"minhash": minhash_phases, "headline": headline}[args.what]
    print(json.dumps({"what": args.what, "sf_dir": args.sf_dir, **fn(spark, args.sf_dir, args.reps)}))


if __name__ == "__main__":
    main()
