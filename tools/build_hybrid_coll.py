"""Build-once bench Collection for the hybrid point-read serving row.

A 200k-row Collection (text + string + integer + 64d vector properties,
text index built) that `bench.py` serves through Collection.search_local —
the one-process query lifecycle (reference: shard/shard.go:329-472). Built
once into /tmp like the other bench sidecars; meta pins rows + builder
VERSION so a stale artifact is rebuilt, never silently mis-measured.

Query material (sample tokens, integer percentiles, query vectors) is
captured INTO the meta at build time so the bench constructs identical
requests every round without touching the corpus again.

Usage: python tools/build_hybrid_coll.py  (or import ensure_hybrid_coll)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_HYBRID_ROWS", 200_000))
DIM = 64
VERSION = 7  # v7: the snapshot manifest names the index artifacts; a
# v6 collection's manifests predate the map, so it is rebuilt rather than
# served through the adopted-legacy path.
# v6: clustered vectors (v5's uniform hash-vectors were an
# adversarial IVF workload — no cluster structure, so cent routing was
# near-random: beam recall 0.27 @ nprobe 1 / 0.57 @ nprobe 5 vs the
# full-probe beam. The serving rows exist to measure the TIERS, not an
# adversarial corpus; this derives the same hierarchical mixture the ANN
# bench corpus uses, tools/gen_clustered_corpus.py.)
# v5: vector property is vectorVamana + a packed graph is
# built, so the hybrid tiers can serve the vector legs through the packed
# beam (vector_mode="graph") — the exact-scan legs are the measured
# memory-bandwidth wall past ~200k rows x 8 workers (VERDICT r10 #3).
# Under the default vector_mode="auto" the legs still serve the exact
# scan (engine parity), so the 200k row's semantics are unchanged.


def paths_for(rows: int) -> tuple[str, str]:
    p = f"/tmp/semadb_bench_hybrid_coll_{rows}"
    return p, p + ".meta.json"


PATH, META_PATH = paths_for(ROWS)

SCHEMA = {
    "body": {"type": "text", "text": {"analyser": "standard"}},
    "lang": {"type": "string", "string": {"caseSensitive": False}},
    "n": {"type": "integer", "integer": {}},
    "v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": DIM, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}},
}


def ensure_hybrid_coll(spark, sf_dir: str = "/root/testdata/sf0.1",
                       rows: int = ROWS):
    """Returns (collection_path, meta); builds the artifact if absent or
    version/row-count stale."""
    from pyspark.sql import functions as F

    from semadb_spark import Collection

    path, meta_path = paths_for(rows)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") == VERSION and meta.get("rows") == rows:
            return path, meta
        shutil.rmtree(path, ignore_errors=True)
        os.remove(meta_path)
    t0 = time.time()
    shutil.rmtree(path, ignore_errors=True)
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    reps = max(1, rows // src.count() + 1)
    # body = real text + a 4-token md5 tail per doc over a ~65k-token
    # vocabulary (df ~= 12 at 200k rows): the synthetic corpus's own
    # vocabulary is ~30 words ALL at df ~150k (no Zipf tail at all), so
    # without the tail every possible query term forces a 150k-row posting
    # scan — unrepresentative of any real corpus. Same trick as the 10M
    # text bench corpus (token-soup selectivity).
    tail = F.concat_ws(
        " ",
        *[
            F.substring(
                F.md5(F.concat_ws("_", F.col("doc_id").cast("string"), F.lit(j))),
                1, 4,
            )
            for j in range(4)
        ],
    )
    base_df = (
        src.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .select(
            (F.col("doc_id") * reps + F.col("rep")).alias("doc_id"),
            "text", "lang",
        )
        .limit(rows)
        .select(
            F.col("doc_id").cast("string").alias("_id"),
            F.concat_ws(" ", F.col("text"), tail).alias("body"),
            "lang",
            F.pmod(F.xxhash64("doc_id"), F.lit(1000)).alias("n"),
        )
    )
    # deterministic CLUSTERED vectors keyed on _id — the hierarchical
    # mixture of tools/gen_clustered_corpus.py (centers + sub-offsets +
    # point noise) so cent routing behaves like a real embedding corpus
    import numpy as np
    import pandas as pd

    rng0 = np.random.RandomState(11)
    centers = rng0.normal(size=(256, DIM))
    sub_off = rng0.normal(scale=0.30, size=(2048, DIM))

    def _add_vec(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["_id"].astype(np.int64).to_numpy()
            rng = np.random.RandomState(int(ids[0]) % (2**31))
            c = ids % 256
            s_ = (ids // 256) % 8
            v = (
                centers[c]
                + sub_off[(c * 8 + s_) % 2048]
                + rng.normal(scale=0.05, size=(len(ids), DIM))
            )
            pdf = pdf.copy()
            pdf["v"] = list(v.astype(np.float32))
            yield pdf

    rows_df = base_df.mapInPandas(
        _add_vec,
        "_id string, body string, lang string, n long, v array<float>",
    )
    coll = Collection.create(spark, path, SCHEMA, num_buckets=16)
    coll.insert(rows_df)
    coll.build_text_index()
    # packed graph for the vector legs: the 1M sidecar's proven serving
    # recipe (tools/build_vamana_1m.py — batch build, 16k-row sub-shards;
    # big sub-shards serve better, vamana_build docstring) scaled by rows
    coll.build_vamana_index(
        "v", num_shards=max(2, rows // 15625), seed=42,
        max_shard_rows=16000, build_mode="batch", build_passes=1,
    )
    # query material: df-banded tokens off the posting index — informative
    # query terms (the md5-tail vocabulary sits at df ~8-40; the corpus's
    # natural words all sit at df ~150k and make every text leg a full
    # posting scan, measured 100 ms/leg).
    postings = spark.read.parquet(coll._index_path("body"))
    tokens = [
        r["term"]
        for r in postings.select("term", "df").distinct()
        .filter((F.col("df") >= 8) & (F.col("df") <= 1000))
        .orderBy(F.col("term").asc()).limit(64).collect()
    ]
    sample = coll.df().limit(400).select("_id", "body", "lang", "v").collect()
    langs = sorted({r["lang"] for r in sample if r["lang"]})[:4]
    qvecs = [[float(x) for x in r["v"]] for r in sample[:24]]
    meta = {
        "version": VERSION,
        "rows": rows,
        "dim": DIM,
        "build_sec": round(time.time() - t0, 1),
        "tokens": tokens,
        "langs": langs,
        "qvecs": qvecs,
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return path, meta


def bench_requests(meta, n_requests: int = 48) -> list[dict]:
    """Deterministic hybrid request mix: text+vector _or, filter+vector
    _and, filter+text — the two-leg trees VERDICT r9 #2 names, plus a
    three-leg kitchen-sink every 8th request."""
    toks, langs, qvecs = meta["tokens"], meta["langs"], meta["qvecs"]
    reqs = []
    for i in range(n_requests):
        qv = qvecs[i % len(qvecs)]
        t2 = f"{toks[i % len(toks)]} {toks[(i * 7 + 3) % len(toks)]}"
        lo = (i * 37) % 800
        shape = i % 4
        if shape == 0:
            q = {"property": "_or", "_or": [
                {"property": "body", "text": {
                    "operator": "containsAny", "value": t2, "limit": 10,
                    "weight": 2.0}},
                {"property": "v", "vectorVamana": {
                    "vector": qv, "limit": 10, "weight": 0.5}},
            ]}
        elif shape == 1:
            q = {"property": "_and", "_and": [
                {"property": "n", "integer": {
                    "operator": "inRange", "value": lo, "endValue": lo + 150}},
                {"property": "v", "vectorVamana": {"vector": qv, "limit": 10}},
            ]}
        elif shape == 2:
            q = {"property": "_and", "_and": [
                {"property": "lang", "string": {
                    "operator": "equals", "value": langs[i % len(langs)]}},
                {"property": "body", "text": {
                    "operator": "containsAny", "value": t2, "limit": 10}},
            ]}
        else:
            q = {"property": "_or", "_or": [
                {"property": "_and", "_and": [
                    {"property": "n", "integer": {
                        "operator": "greaterThan", "value": lo}},
                    {"property": "v", "vectorVamana": {
                        "vector": qv, "limit": 10}},
                ]},
                {"property": "body", "text": {
                    "operator": "containsAll", "value": t2, "limit": 10}},
            ]}
        reqs.append({"query": q, "limit": 10})
    return reqs


def main() -> None:
    from semadb_spark import Collection, get_spark

    spark = get_spark(app_name="build-hybrid-coll",
                      cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 16)))
    path, meta = ensure_hybrid_coll(spark)
    print(f"artifact at {path}: {json.dumps({k: v for k, v in meta.items() if k != 'qvecs'})[:400]}")
    coll = Collection.open(spark, path)
    reqs = bench_requests(meta)
    # isolation measurement: warm then best-of-3 passes
    import time as _t

    for r in reqs[:8]:
        coll.search_local(r)
    best = None
    for _ in range(3):
        t0 = _t.time()
        for r in reqs:
            coll.search_local(r)
        dt = _t.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"search_local: {len(reqs) / best:.1f} QPS ({1000 * best / len(reqs):.1f} ms/q)")
    with coll.open_search_pool(workers=8, warm_requests=reqs[:4]) as pool:
        pool.search_many(reqs)
        best = None
        for _ in range(3):
            t0 = _t.time()
            pool.search_many(reqs)
            best = min(best or 9e9, _t.time() - t0)
    print(f"search pool(8): {len(reqs) / best:.1f} QPS")
    t0 = _t.time()
    coll.search(reqs[0]).collect()
    coll.search(reqs[1]).collect()
    t0 = _t.time()
    for r in reqs[:4]:
        coll.search(r).collect()
    print(f"engine same queries: {(_t.time() - t0) * 250 / 4:.0f} ms/q")


if __name__ == "__main__":
    main()
