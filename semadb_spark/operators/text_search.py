"""Full-text search with TF-IDF ranking (reference parity:
shard/index/text/text.go:305-396).

Pinned semantics:
- Query analysed with the same standard analyser; duplicate query terms
  collapse to a set (text.go:314-318).
- Candidate set: docs containing ALL (containsAll) or ANY (containsAny) of
  the query terms (text.go:328-332), optionally intersected with a pre-filter
  id set (text.go:333-335).
- Score per doc = sum over query terms of
  ``(freq_t / doc_len) * log10(N / (df_t + 1))`` where ``doc_len`` is the
  analysed token count of the doc (text.go:278), ``N`` the corpus document
  count and ``df_t`` the number of docs containing the term corpus-wide
  (posting-set cardinality, text.go:353-372).
- Sort score desc, truncate to the per-search ``limit`` (text.go:387-393);
  ties broken by id ascending for determinism (FIXTURES.md).
- ``_hybridScore = weight * score`` (text.go:375-379).

Index tables (the Spark analogue of posting lists + doc stats,
SURVEY.md §1.4): ``doc_terms(id, term, tf, doc_len)`` built by one
explode/groupBy job; corpus stats derive from it. Built lazily per search or
materialized once via :func:`build_text_index` and reused — at 100 TB you
persist it partitioned/bucketed by term.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semadb_spark.functions.analyzer import analyze_query, tokenize
from semadb_spark.operators._pool import ArtifactLru, ServePool

# Partition count for the persisted index's term-hash layout: queries prune
# to <= |query terms| directories out of TERM_BUCKETS (Collection
# persists the index partitionBy("term_bucket")).
TERM_BUCKETS = 64


def doc_term_freqs(df: DataFrame, text_col: str, id_col: str = "_id") -> DataFrame:
    """-> doc_terms(id, term, tf, doc_len, doc_first) — the per-document half
    of the index (no corpus-wide ``df`` yet). Shared by the full build and
    the incremental refresh, which re-tokenizes only dirty-bucket documents.

    ``doc_first`` is true on exactly one row per document, the one whose
    term is the document's least token, so counting those rows counts
    documents without a DISTINCT (which observed metrics reject).

    Null/emptied docs are excluded entirely (missing properties are never
    indexed, models/index.go:125-131; empty token list removes the doc,
    text.go:185-188).
    """
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), tokenize(text_col).alias("tokens"))
        .withColumn("doc_len", F.size("tokens"))
        .filter(F.col("doc_len") > 0)
    )
    return (
        toks.select(
            "id", "doc_len", F.array_min("tokens").alias("least"),
            F.explode("tokens").alias("term"),
        )
        .groupBy("id", "term")
        .agg(
            F.count("*").alias("tf"),
            F.first("doc_len").alias("doc_len"),
            F.bool_or(F.col("term") == F.col("least")).alias("doc_first"),
        )
    )


def build_text_index(df: DataFrame, text_col: str, id_col: str = "_id") -> DataFrame:
    """-> doc_terms(id, term, tf, doc_len, df).

    ``df`` (corpus document frequency of the term) is denormalized onto
    every posting row at build time — it is an index-time fact, exactly like
    the reference's posting-set cardinality (text.go:368-371), so queries
    never pay a per-term aggregation shuffle for it.
    """
    from pyspark.sql import Window

    return (
        doc_term_freqs(df, text_col, id_col)
        .drop("doc_first")
        .withColumn("df", F.count("*").over(Window.partitionBy("term")))
    )


def corpus_stats(doc_terms: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (num_docs 1-row frame, df_by_term(term, df)). Derived from the index
    table so everything stays lazy/distributed."""
    num_docs = doc_terms.select("id").distinct().agg(F.count("*").alias("num_docs"))
    df_by_term = doc_terms.groupBy("term").agg(F.count("*").alias("df"))
    return num_docs, df_by_term


def text_search(
    df: DataFrame,
    text_col: str,
    query: str,
    operator: str = "containsAny",
    limit: int = 10,
    weight: float = 1.0,
    id_col: str = "_id",
    doc_terms: DataFrame | None = None,
    num_docs: int | None = None,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """-> (id, _score, _hybridScore) sorted by score desc, truncated to limit.

    Pass a materialized ``doc_terms`` index table to skip re-tokenization,
    and ``num_docs`` (corpus document count, the reference's persisted
    ``_numDocuments`` counter, text.go:16-20) to skip the per-query distinct
    over the posting table — at scale both are index-time artifacts.

    ``candidate_ids`` (one id column) applies the R4 pre-filter the
    reference way: the candidate set is intersected BEFORE scoring and
    truncation (text.go:333-335, 387-393) — scoring work is
    O(filtered postings), and df/IDF stay corpus-wide facts.
    """
    if operator not in ("containsAll", "containsAny"):
        raise ValueError(f"invalid operator {operator} for text query")
    terms = analyze_query(query)
    if not terms:
        return df.sparkSession.createDataFrame(
            [], "id string, _score double, _hybridScore double"
        )
    nd_lit: Column | None = (
        F.lit(float(num_docs)) if num_docs is not None else None
    )
    if doc_terms is None:
        # Ad-hoc path: push the query-term filter BELOW the (id, term)
        # aggregation so the shuffle carries only query-term postings — the
        # posting rows for the other ~every term in the corpus never leave
        # their input partition. num_docs is a shuffle-free second pass
        # (partial counts only). A materialized doc_terms skips both scans.
        # Repartition before tokenizing: small single-file corpora arrive as
        # one input partition and tokenization is CPU-bound (explicit count
        # so AQE doesn't coalesce a tiny-by-bytes, heavy-by-CPU shuffle).
        n_parts = df.sparkSession.sparkContext.defaultParallelism
        toks = (
            df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
            .repartition(n_parts, F.col("id"))
            .select("id", tokenize("_txt").alias("tokens"))
            .withColumn("doc_len", F.size("tokens"))
            .filter(F.col("doc_len") > 0)
        )
        if nd_lit is None:
            num_docs_frame = toks.agg(F.count("*").alias("num_docs"))
        matches = (
            toks.select("id", "doc_len", F.explode("tokens").alias("term"))
            .filter(F.col("term").isin(terms))
            .groupBy("id", "term")
            .agg(F.count("*").alias("tf"), F.first("doc_len").alias("doc_len"))
        )
    else:
        if nd_lit is None:
            num_docs_frame = (
                doc_terms.select("id").distinct().agg(F.count("*").alias("num_docs"))
            )
        if "term_bucket" in doc_terms.columns:
            # partitioned index layout: the term filter prunes to at most
            # |query terms| directories before any row is read
            from semadb_spark.functions.hashing import md5_hash64_py

            buckets = sorted({md5_hash64_py(t) % TERM_BUCKETS for t in terms})
            doc_terms = doc_terms.filter(F.col("term_bucket").isin(buckets))
        matches = doc_terms.filter(F.col("term").isin(terms))
    # Corpus-wide document frequency per query term: a materialized index
    # carries it denormalized per posting row (index-time fact); the ad-hoc
    # path derives df_t = count per term over the query-term postings alone
    # (doc_terms rows are unique per (id, term); text.go:368-371 reads the
    # posting-set cardinality the same way). Computed as a partial-agg
    # groupBy + broadcast join, NOT a count() window: the window shuffled
    # every matched posting into |query terms| partitions — a guaranteed
    # skewed full shuffle of the postings (2 terms = 2 tasks at any corpus
    # size) where the groupBy exchanges one partial count per (partition,
    # term) and the join is map-side (r13, guide §2.3/§2.5).
    if "df" not in matches.columns:
        dfq = matches.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        matches = matches.join(F.broadcast(dfq), "term")
    if candidate_ids is not None:
        cand = candidate_ids.select(
            F.col(candidate_ids.columns[0]).cast("string").alias("id")
        )
        matches = matches.withColumn("id", F.col("id").cast("string")).join(
            cand, "id", "left_semi"
        )
    # num_docs known (the persisted _numDocuments counter, text.go:16-20):
    # inline it as a literal — broadcasting a 1-row frame costs a Spark job
    # per query on the serving hot path. Unknown: derive + broadcast once.
    if nd_lit is None:
        matches = matches.crossJoin(F.broadcast(num_docs_frame))
        nd_lit = F.col("num_docs").cast("double")
    scored_terms = matches.withColumn(
        "term_score",
        (F.col("tf").cast("double") / F.col("doc_len").cast("double"))
        * F.log10(nd_lit / (F.col("df") + 1).cast("double")),
    )
    per_doc = scored_terms.groupBy("id").agg(
        F.sum("term_score").alias("_score"),
        F.count("*").alias("_terms_matched"),
    )
    if operator == "containsAll":
        per_doc = per_doc.filter(F.col("_terms_matched") == len(terms))
    per_doc = (
        per_doc.drop("_terms_matched")
        .withColumn("_hybridScore", F.lit(float(weight)) * F.col("_score"))
        .orderBy(F.col("_score").desc(), F.col("id").asc())
        .limit(limit)
    )
    return per_doc


def text_serve(
    spark,
    postings_view: str,
    query: str,
    operator: str = "containsAny",
    limit: int = 10,
    weight: float = 1.0,
    num_docs: int | None = None,
    bucketed: bool = True,
) -> DataFrame:
    """Single-query serving fast path: ONE ``spark.sql`` call over a
    registered view of the persisted posting index.

    Scores are pinned identical to :func:`text_search` (same formula
    ``(tf/doc_len) * log10(N/(df+1))``, same desc-score/asc-id ordering,
    same containsAll semantics — parity-tested). What differs is the
    DRIVER cost: the DataFrame-API path issues dozens of py4j calls per
    plan, which serialize under the GIL when a serving tier runs
    concurrent requests; a single SQL string is one round-trip, so
    concurrent serving throughput scales with the scheduler instead of
    the driver thread (measured ~3x at 16 clients on the 1M bench corpus).

    Requirements: ``postings_view`` names a temp view over the
    bucket-partitioned persisted index (Collection.build_text_index
    layout: id, term, tf, doc_len, df, term_bucket) and ``num_docs`` is
    the stored ``_numDocuments`` counter (text.go:16-20) — both
    index-time artifacts, so a query touches only its own term buckets
    (partition pruning) and runs zero corpus-stats jobs. Set
    ``bucketed=False`` for an unpartitioned posting view.
    """
    if operator not in ("containsAll", "containsAny"):
        raise ValueError(f"invalid operator {operator} for text query")
    if num_docs is None:
        raise ValueError("text_serve requires the stored num_docs counter")
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame(
            [], "id string, _score double, _hybridScore double"
        )
    from semadb_spark.functions.hashing import md5_hash64_py

    tlist = ",".join("'" + t.replace("'", "''") + "'" for t in terms)
    where = f"term IN ({tlist})"
    if bucketed:
        buckets = sorted({md5_hash64_py(t) % TERM_BUCKETS for t in terms})
        where = (
            f"term_bucket IN ({','.join(str(b) for b in buckets)}) AND " + where
        )
    having = (
        f"HAVING COUNT(*) = {len(terms)}" if operator == "containsAll" else ""
    )
    return spark.sql(
        f"""
        SELECT id, _score, {float(weight)} * _score AS _hybridScore FROM (
          SELECT id,
                 SUM(tf / CAST(doc_len AS DOUBLE)
                     * LOG10({float(num_docs)} / (df + 1))) AS _score
          FROM {postings_view}
          WHERE {where}
          GROUP BY id
          {having}
        )
        ORDER BY _score DESC, id ASC
        LIMIT {int(limit)}
        """
    )


# path -> pyarrow dataset, shared by every thread
_LOCAL_DATASET_CACHE = ArtifactLru()
# per-thread ``by_path``: path -> row-group index; a thread's handle sets
# close when the thread exits or when its cache drops their path
_LOCAL_RG_INDEX_CACHE = threading.local()


def _close_rowgroup_index(idx) -> None:
    for files in (idx or {}).values():
        for pf, _stats in files:
            pf.close()


def _local_rowgroup_index(index_path: str):
    """bucket -> [(ParquetFile, [(term_min, term_max) per row group])] for
    a term-bucket partitioned posting artifact, built once per (path,
    THREAD) from parquet footers only (no data pages read).
    Row groups whose term statistics are absent get (None, None) and are
    treated as MUST-READ by the caller (a mixed-stats artifact — e.g. one
    file from a different writer — must not silently drop those groups'
    postings). Returns None only when NO row group anywhere has stats
    (legacy unsorted artifact) — callers then fall back to the generic
    dataset scan.

    Per-thread keying (r14, VERDICT r13 directive #4): ``ParquetFile`` is
    not safe for concurrent reads from multiple threads (its reader seeks
    one underlying handle), so a multi-threaded serving tier gets its own
    handle set per client thread — each thread an independent engine
    handle on the immutable artifact, exactly like the process pool. The
    sets live in thread-local storage, so a thread's handles close when
    the thread exits; each thread keeps the sets of its
    ``MAX_CACHED_ARTIFACTS`` most recently served paths and closes the
    handles of a path it drops. Cost: one footer-only re-open per (thread,
    file); the decoded data pages are never cached here."""
    by_path = getattr(_LOCAL_RG_INDEX_CACHE, "by_path", None)
    if by_path is None:
        by_path = _LOCAL_RG_INDEX_CACHE.by_path = ArtifactLru(
            close=_close_rowgroup_index
        )
    if index_path in by_path:
        return by_path[index_path]
    import glob
    import os
    import re

    import pyarrow.parquet as pq

    idx: dict[int, list] = {}
    usable = False
    for d in glob.glob(os.path.join(index_path, "term_bucket=*")):
        m = re.search(r"term_bucket=(\d+)$", d)
        if not m:
            continue
        b = int(m.group(1))
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            pf = pq.ParquetFile(f)
            md = pf.metadata
            term_col = None
            for ci in range(len(md.schema)):
                if md.schema.column(ci).name == "term":
                    term_col = ci
                    break
            stats = []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(term_col).statistics if term_col is not None else None
                if st is not None and st.has_min_max:
                    stats.append((st.min, st.max))
                    usable = True
                else:
                    stats.append((None, None))
            idx.setdefault(b, []).append((pf, stats))
    result = idx if usable else None
    by_path[index_path] = result
    return result


def text_serve_local(
    index_path: str,
    query: str,
    operator: str = "containsAny",
    limit: int = 10,
    weight: float = 1.0,
    num_docs: int | None = None,
    candidate_ids=None,
):
    """Driver-local single-query serving: score one bounded text query
    straight off the persisted posting artifact with pyarrow — NO Spark
    job at all.

    ``candidate_ids`` (any iterable of id strings) applies the R4
    pre-filter the reference way (text.go:333-335, 387-393): posting rows
    outside the candidate set are dropped BEFORE scoring and truncation,
    while df/IDF stay corpus-wide facts — the same contract as
    :func:`text_search`'s candidate_ids, point-read edition (used by the
    driver-local hybrid tier, Collection.search_local).

    Why this path exists: ANY 1-task Spark job on this class of host costs
    ~150 ms of scheduler+py4j floor (tools/repro_text.py pins it with a
    bare rdd.count()), which caps a 1-client serving loop at ~7 QPS no
    matter how cheap the query is. A single text query only ever touches
    its own terms' posting rows — with the index written
    ``partitionBy("term_bucket")`` that is <= |terms| directories — so a
    serving node can read those row groups directly (pyarrow dataset
    filter on the hive partition column + term) and score in numpy. This
    is exactly what a 1000-executor deployment's serving tier does: the
    index lives in object storage, light queries hit it point-wise, heavy
    batches go through the cluster (:func:`text_search_batch`).

    Scores/ordering are pinned identical to :func:`text_serve`
    (parity-tested): ``sum(tf/doc_len * log10(N/(df+1)))``, score desc /
    id asc, containsAll = matched-term count equals query-term count.

    Returns a pandas DataFrame (id, _score, _hybridScore) — deliberately
    not a Spark frame; wrapping it back would re-pay the py4j cost this
    path removes.

    Contract: ``index_path`` is immutable. The open dataset and row-group
    handles are cached by path alone, so an artifact rewritten in place is
    not re-read; a rebuild must land at a new path, as every
    :class:`~semadb_spark.collection.Collection` build and refresh does.
    """
    import math

    import numpy as np
    import pandas as pd

    if operator not in ("containsAll", "containsAny"):
        raise ValueError(f"invalid operator {operator} for text query")
    if num_docs is None:
        raise ValueError("text_serve_local requires the stored num_docs counter")
    terms = analyze_query(query)
    empty = pd.DataFrame({"id": pd.Series([], dtype=object),
                          "_score": pd.Series([], dtype=float),
                          "_hybridScore": pd.Series([], dtype=float)})
    if not terms:
        return empty
    import pyarrow.dataset as pads

    from semadb_spark.functions.hashing import md5_hash64_py

    dset = _LOCAL_DATASET_CACHE.get(index_path)
    if dset is None:
        dset = pads.dataset(index_path, partitioning="hive")
        _LOCAL_DATASET_CACHE[index_path] = dset
    bucketed = "term_bucket" in dset.schema.names
    tbl = None
    if bucketed:
        # fast path: per-bucket row-group index (built once per path) —
        # binary-search each term into its bucket file's cached term
        # min/max stats and read ONLY the matching row groups. The generic
        # dataset scan re-evaluates every fragment's metadata per query
        # and decodes whole filtered fragments; at a 400M-posting index
        # that overhead is the entire latency budget (measured 75 ms/query
        # via the dataset path vs ~20 ms via direct row-group reads).
        # Falls back to the dataset scan if stats are missing (unsorted
        # legacy artifact).
        idx = _local_rowgroup_index(index_path)
        if idx is not None:
            import pyarrow as pa

            # union of matching row groups per file FIRST, each group read
            # exactly once — two query terms landing in the same group must
            # not duplicate its posting rows (scores would double-count).
            # Stats-less groups (lo is None) are must-read: pruning them
            # would silently drop their postings on mixed-stats artifacts.
            needed: dict[tuple[int, int], set] = {}
            for t in sorted(set(terms)):
                b = md5_hash64_py(t) % TERM_BUCKETS
                for fi, (pf, stats) in enumerate(idx.get(b, [])):
                    for g, (lo, hi) in enumerate(stats):
                        if lo is None or lo <= t <= hi:
                            needed.setdefault((b, fi), set()).add(g)
            chunks = []
            for (b, fi), rgs in needed.items():
                pf, _stats = idx[b][fi]
                chunks.append(
                    pf.read_row_groups(
                        sorted(rgs),
                        columns=["id", "term", "tf", "doc_len", "df"],
                    )
                )
            if not chunks:
                return empty
            tbl = pa.concat_tables(chunks)
            # Arrow-native membership kernel (guide §4.2): the old
            # `np.isin(to_numpy(object), ...)` materialized a Python object
            # per posting row and matched under the GIL — on a 100k-row
            # posting read that is both the latency and the reason 16
            # serving THREADS could not scale (r14: thread ratio 1.33 with
            # the object path). pc.is_in runs in C++ with the GIL released;
            # same membership, same surviving rows.
            import pyarrow.compute as pc

            tbl = tbl.filter(
                pc.is_in(
                    tbl.column("term"),
                    value_set=pa.array(sorted(set(terms)), type=pa.string()),
                )
            )
    if tbl is None:
        flt = pads.field("term").isin(list(terms))
        if bucketed:
            buckets = sorted({md5_hash64_py(t) % TERM_BUCKETS for t in terms})
            flt = pads.field("term_bucket").isin(buckets) & flt
        tbl = dset.to_table(columns=["id", "tf", "doc_len", "df"], filter=flt)
    if tbl.num_rows == 0:
        return empty
    if candidate_ids is not None:
        # hash-based membership: np.isin on object arrays sort-merges (it
        # argsorts string ids — measured dominant on 100k+ posting reads)
        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        keep = pd.Series(ids).isin(candidate_ids).to_numpy()
        if not keep.any():
            return empty
        tbl = tbl.take(np.flatnonzero(keep))
    tf = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.float64)
    dl = tbl.column("doc_len").to_numpy(zero_copy_only=False).astype(np.float64)
    dfv = tbl.column("df").to_numpy(zero_copy_only=False).astype(np.float64)
    contrib = tf / dl * np.log10(float(num_docs) / (dfv + 1.0))
    # Arrow dictionary_encode instead of pd.factorize (guide §4.2): both
    # assign dense codes in FIRST-OCCURRENCE order, so `inv` is the same
    # array — but the Arrow hash kernel runs GIL-released C++ over the
    # string buffer, while factorize first materializes one Python object
    # per posting row (the prior fix's pd.factorize was itself the
    # replacement for argsorting np.unique — this removes the remaining
    # per-row object materialization). Only the UNIQUE ids (<= a few
    # hundred per query after top-k pools) become Python objects now.
    # bincount accumulates in the same row order, so scores stay
    # bit-identical.
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(tbl.column("id").combine_chunks())
    inv = enc.indices.to_numpy(zero_copy_only=False)
    uids = enc.dictionary.to_numpy(zero_copy_only=False)
    score = np.bincount(inv, weights=contrib, minlength=len(uids))
    if operator == "containsAll":
        matched = np.bincount(inv, minlength=len(uids))
        keep = matched == len(terms)
        uids, score = uids[keep], score[keep]
        if not len(uids):
            return empty
    # top-k selection before the sort: argpartition down to the score
    # threshold, sort only the boundary set (ties at the threshold kept,
    # so the (-score, id) order and truncation match the full sort)
    k = int(limit)
    if len(uids) > 4 * k and k > 0:
        thr = score[np.argpartition(-score, k - 1)[:k]].min()
        sel = score >= thr
        uids, score = uids[sel], score[sel]
    out = pd.DataFrame(
        {"id": uids, "_score": score, "_hybridScore": float(weight) * score}
    )
    # score desc, id asc (FIXTURES tiebreak), truncation AFTER the sort —
    # identical to the SQL path's ORDER BY _score DESC, id ASC LIMIT n
    return (
        out.sort_values(["_score", "id"], ascending=[False, True], kind="stable")
        .head(k)
        .reset_index(drop=True)
    )


def text_search_batch(
    df: DataFrame,
    text_col: str,
    queries: list[tuple[str, str]],
    operator: str = "containsAny",
    limit: int = 10,
    weight: float = 1.0,
    id_col: str = "_id",
    doc_terms: DataFrame | None = None,
    num_docs: int | None = None,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Serve many text queries in ONE job — the TF-IDF analogue of
    ``knn_topk_batch`` (batch-first serving, the regime the bench's QPS
    rows measure). -> (query_id, id, _score, _hybridScore), per-query
    top-``limit``, scores identical to per-query :func:`text_search`.

    ``candidate_ids`` (one id column) applies the R4 pre-filter exactly as
    the per-query path does: candidates intersect BEFORE scoring and
    truncation, df/IDF stay corpus-wide index-time facts.

    Shape: the posting table is term-filtered once for the UNION of all
    query terms (pruning the bucket-partitioned index to at most
    |union terms| directories), per-term ``df`` is resolved BEFORE the
    query join (so shared terms don't double-count), then a broadcast
    (query_id, term) join fans each posting row out to the queries that
    want it. One scoring aggregation keyed by (query_id, id) and one
    per-query window trim; posting rows are read once however many
    queries the batch carries.
    """
    if operator not in ("containsAll", "containsAny"):
        raise ValueError(f"invalid operator {operator} for text query")
    spark = df.sparkSession
    q_rows = []
    for qid, qtext in queries:
        terms = analyze_query(qtext)
        for t in terms:
            q_rows.append((str(qid), t, len(terms)))
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id string, id string, _score double, _hybridScore double"
        )
    all_terms = sorted({t for _, t, _ in q_rows})
    # Arrow-path local frame: see semadb_spark.session.local_df (the pickled
    # RDD route would add a Python-worker job per search).
    from semadb_spark.session import local_df

    qdf = local_df(spark, q_rows, "query_id string, term string, n_terms int")
    nd_lit: Column | None = (
        F.lit(float(num_docs)) if num_docs is not None else None
    )
    if doc_terms is None:
        n_parts = spark.sparkContext.defaultParallelism
        toks = (
            df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
            .repartition(n_parts, F.col("id"))
            .select("id", tokenize("_txt").alias("tokens"))
            .withColumn("doc_len", F.size("tokens"))
            .filter(F.col("doc_len") > 0)
        )
        if nd_lit is None:
            num_docs_frame = toks.agg(F.count("*").alias("num_docs"))
        matches = (
            toks.select("id", "doc_len", F.explode("tokens").alias("term"))
            .filter(F.col("term").isin(all_terms))
            .groupBy("id", "term")
            .agg(F.count("*").alias("tf"), F.first("doc_len").alias("doc_len"))
        )
    else:
        if nd_lit is None:
            num_docs_frame = (
                doc_terms.select("id").distinct().agg(F.count("*").alias("num_docs"))
            )
        if "term_bucket" in doc_terms.columns:
            from semadb_spark.functions.hashing import md5_hash64_py

            buckets = sorted({md5_hash64_py(t) % TERM_BUCKETS for t in all_terms})
            doc_terms = doc_terms.filter(F.col("term_bucket").isin(buckets))
        matches = doc_terms.filter(F.col("term").isin(all_terms))
    from pyspark.sql import Window

    if "df" not in matches.columns:
        # per-term df over the union-filtered postings, BEFORE the query
        # join — joining first would double-count postings shared by queries
        matches = matches.withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
    if candidate_ids is not None:
        cand = candidate_ids.select(
            F.col(candidate_ids.columns[0]).cast("string").alias("id")
        )
        matches = matches.withColumn("id", F.col("id").cast("string")).join(
            cand, "id", "left_semi"
        )
    if nd_lit is None:
        matches = matches.crossJoin(F.broadcast(num_docs_frame))
        nd_lit = F.col("num_docs").cast("double")
    scored = matches.join(F.broadcast(qdf), "term").withColumn(
        "term_score",
        (F.col("tf").cast("double") / F.col("doc_len").cast("double"))
        * F.log10(nd_lit / (F.col("df") + 1).cast("double")),
    )
    per = scored.groupBy("query_id", "id").agg(
        F.sum("term_score").alias("_score"),
        F.count("*").alias("_terms_matched"),
        F.first("n_terms").alias("_n_terms"),
    )
    if operator == "containsAll":
        per = per.filter(F.col("_terms_matched") == F.col("_n_terms"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("id").asc()
    )
    return (
        per.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .select(
            "query_id",
            "id",
            "_score",
            (F.lit(float(weight)) * F.col("_score")).alias("_hybridScore"),
        )
    )


# -- process-parallel serving tier (promoted from tools/, r9) ---------------

_POOL_INDEX_PATH: str | None = None
_POOL_NUM_DOCS: int | None = None


def _pool_init(index_path: str, num_docs: int) -> None:
    """Worker-process initializer: pin the artifact coordinates and pre-warm
    the per-process caches (pyarrow dataset handle + row-group term-stats
    index) so the first real query pays no footer-read latency."""
    global _POOL_INDEX_PATH, _POOL_NUM_DOCS
    _POOL_INDEX_PATH = index_path
    _POOL_NUM_DOCS = num_docs
    _local_rowgroup_index(index_path)


def _pool_serve(requests: list[tuple[str, str, int, float]]):
    return [
        text_serve_local(
            _POOL_INDEX_PATH, query, operator, limit=limit, weight=weight,
            num_docs=_POOL_NUM_DOCS,
        )
        for query, operator, limit, weight in requests
    ]


class TextServePool(ServePool):
    """Process-parallel text serving over an IMMUTABLE posting artifact —
    the deployment shape of the serving tier the reference runs around its
    in-process index (shard/index/text/text.go:305-396), re-expressed for
    the point-read path that bypasses Spark entirely.

    Why processes, not threads: :func:`text_serve_local`'s row-group reads
    release the GIL but the numpy/pandas scoring does not — 16 in-process
    threads measured ~13 QPS on the 400M-posting bench index vs ~36 for
    ONE thread. One worker process per core removes the contention: each
    process opens its own ParquetFile handles against the same read-only
    parquet and serves independently (measured r8: 250.8 QPS @ 8 procs,
    401.5 @ 16 procs on the same index — tools/repro_text_multiproc.py is
    the pinned repro). This is exactly how a real tier deploys: the index
    lives in object storage / shared disk, N stateless workers point-read
    it, heavy analytical batches go through the cluster
    (:func:`text_search_batch`). Every worker can serve every query, so
    the pool runs the :class:`~semadb_spark.operators._pool.ServePool`
    core with one shared executor.

    Contract: ``index_path`` is immutable. Each worker caches its handles
    by path alone, so an artifact rewritten in place is not re-read. A
    collection never rewrites one: every build and refresh lands at a new
    path named by a new snapshot, so reopen the pool (with the new path)
    to serve a rebuilt index.

    Results are byte-identical to :func:`text_serve_local`
    (parity-tested), which is itself pinned to the SQL path
    :func:`text_serve`.

    Usage::

        with TextServePool(path, num_docs=N, workers=8) as pool:
            hits = pool.search("spark shuffle", "containsAny", limit=10)
            all_hits = pool.search_many([("q1", "containsAll"), ...])
    """

    def __init__(self, index_path: str, num_docs: int, workers: int = 8):
        import os

        if not os.path.isdir(index_path):
            raise ValueError(f"no posting artifact at {index_path}")
        if num_docs is None or num_docs <= 0:
            raise ValueError("TextServePool requires the stored num_docs counter")
        self.index_path = index_path
        self.num_docs = int(num_docs)
        super().__init__(workers, _pool_init, (index_path, self.num_docs),
                         _pool_serve)

    def search(self, query: str, operator: str = "containsAny",
               limit: int = 10, weight: float = 1.0):
        """One query -> pandas DataFrame (id, _score, _hybridScore), scored
        on whichever worker is free."""
        return self._one((query, operator, int(limit), float(weight)))

    def search_many(self, queries, limit: int = 10, weight: float = 1.0):
        """[(query_text, operator), ...] -> list of pandas DataFrames in
        input order, fanned across all workers."""
        return self._many(
            [(q, op, int(limit), float(weight)) for q, op in queries]
        )
