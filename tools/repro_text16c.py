"""Isolation repro for the bench text_10m 16-client serving row.

The r7 full-bench run recorded 16c QPS 64.8 -> 40.7 while the 1-client
path stayed flat; the only r7 change on the serving path (the listing
fingerprint, now _pool.artifact_fingerprint) affects text_serve_local
(1-client) and not the Spark text_serve route this row times, so the
prime suspect is host
noise (this box has documented 4-5x noisy-neighbor swings). This tool
re-times EXACTLY the bench shape — 64 queries (8 distinct x 8) through
text_serve on the sidecar 10M posting index, 16-thread ThreadPoolExecutor,
warmed — on an otherwise idle host, several trials.

Usage: python tools/repro_text16c.py [trials]
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from semadb_spark.operators.text_search import text_serve  # noqa: E402

TIDX10 = "/tmp/semadb_bench_textidx_10000000.parquet"

TEXT_QUERIES = [
    ("spark query", "containsAny"),
    ("window merge stream", "containsAny"),
    ("data join", "containsAll"),
    ("table scan filter", "containsAny"),
    ("shuffle partition", "containsAll"),
    ("index search", "containsAny"),
    ("batch row group", "containsAny"),
    ("sort spill", "containsAny"),
]


def main() -> None:
    from semadb_spark import get_spark

    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    if not os.path.exists(os.path.join(TIDX10, "_SUCCESS")):
        print(json.dumps({"skipped": "10M text index absent - run bench"}))
        return
    with open(TIDX10 + ".meta.json") as fh:
        meta = json.load(fh)
    # the bench derives num_docs from the corpus row count; 10M is the
    # fixed sidecar size
    num_docs = 10_000_000
    spark = get_spark(
        app_name="repro-text16c",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
    )
    spark.read.parquet(TIDX10).createOrReplaceTempView("bench_postings_10m")

    def serve(args):
        qtext, op = args
        return text_serve(
            spark, "bench_postings_10m", qtext, op, limit=75,
            num_docs=num_docs,
        ).count()

    q64 = TEXT_QUERIES * 8
    for q in TEXT_QUERIES:
        serve(q)  # warm listing + codegen
    results = []
    for t in range(trials):
        with ThreadPoolExecutor(16) as ex:
            t1 = time.time()
            list(ex.map(serve, q64))
            dt = time.time() - t1
        qps = round(len(q64) / dt, 1)
        results.append(qps)
        print(f"# trial {t}: {qps} qps (16c)", file=sys.stderr)
    print(
        json.dumps(
            {
                "postings": meta.get("postings"),
                "trials": results,
                "best": max(results),
                "median": sorted(results)[len(results) // 2],
            }
        )
    )


if __name__ == "__main__":
    main()
