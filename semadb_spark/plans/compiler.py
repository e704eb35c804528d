"""JSON query-tree -> DataFrame compiler (the engine core).

Reproduces the reference's search pipeline (models/search.go:9-15):
*filter first -> vector/text search with hybrid weights -> select/sort ->
offset/limit*, over the exact JSON query-tree API (models/search.go:54-65).

Compilation strategy (SURVEY.md §3.1 "Spark lifecycle equivalent"): a
request is validated and normalized once by :func:`.logical.parse` — the
front-end the driver-local engine (:mod:`.local_engine`) compiles from too —
and this module turns the resulting plan nodes into Spark columns and frames:

- A subtree of **pure filters** (string/integer/float/stringArray/_id leaves
  composed with ``_and``/``_or``) compiles to a single boolean ``Column`` —
  one scan, full Catalyst pushdown/pruning, zero shuffles. This strictly
  improves on the reference, which materializes an id bitmap per leaf
  (shard/index/search.go:21-169).
- A subtree containing **ranked leaves** (vectorFlat/vectorVamana/text)
  produces a scored frame ``(id, _distance, _score, _hybridScore)`` plus an
  id-set frame, merged by the hybrid rules (shard/index/search.go:248-297):
  duplicate ids sum their hybrid scores, first non-null distance/score wins
  (made deterministic by child index), ``_and`` drops ranked rows outside the
  intersected id set.
- Result shaping mirrors Shard.SearchPoints (shard/shard.go:329-472): ranked
  rows first (hybrid score desc), then filter-only rows; user sort keys
  override with missing-values-last (utils/compare.go:64-75); offset/limit
  last. The offset+limit pre-trim uses ``orderBy().limit(offset+limit)``
  (TakeOrderedAndProject: distributed per-partition top-k) before a
  single-partition row_number — the same scatter/gather trick as the
  reference's per-shard limit shrinking (cluster/actions.go:267-310), with no
  Poisson approximation needed because the per-partition top-k is exact.

``vectorVamana`` queries execute as exact top-k: the reference's graph search
is an approximation of exactly this ranking (recall < 1, filtered mode
documented as optimistic, docs/content/docs/search/filtered.md:49-51), so the
exact result dominates it in recall; ``searchSize``/parameters are validated
and accepted for API parity. Approximate serving at scale lives in
:mod:`semadb_spark.operators.ann`.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semadb_spark.operators import knn as knn_ops
from semadb_spark.operators import text_search as text_ops
from semadb_spark.plans import logical
from semadb_spark.plans.logical import (
    RANKED_COLS,
    Bool,
    IdFilter,
    RangeFilter,
    Shape,
    TextLeaf,
    VectorLeaf,
    parse,
)
from semadb_spark.schema import IndexSchema


def _cross_type_sort_order(v, descending: bool) -> list:
    """Cross-type ordering for schemaless payload values.

    Mirrors the reference's CompareAny (utils/compare.go:13-35): mixed types
    group by type kind in Go reflect.Kind order as a decoded request body
    produces them — bool(1) < int(6) < float(14) < map(21) < slice(23) <
    string(24); within a kind, natural order; map/slice are "unknown kinds"
    and compare equal. Missing keys always sort last regardless of direction
    (SortSearchResults, utils/compare.go:62-74).

    Payload values are stored JSON-encoded, so kind detection reads the JSON
    text; nested paths come through ``get_json_object`` unquoted, where a
    string that looks like a number/bool groups under that kind — a
    documented approximation for the nested-schemaless case only.
    """
    is_missing = v.isNull() | (v == F.lit("null"))
    rank = (
        F.when(v.rlike(r"^(true|false)$"), F.lit(1))
        .when(v.rlike(r"^-?\d+$"), F.lit(6))
        .when(v.rlike(r"^-?\d"), F.lit(14))  # remaining numerics: floats
        .when(v.startswith("{"), F.lit(21))
        .when(v.startswith("["), F.lit(23))
        .otherwise(F.lit(24))
    )
    key_bool = F.when(rank == 1, (v == F.lit("true")).cast("int"))
    key_num = F.when(rank.isin(6, 14), v.cast("double"))
    key_str = F.when(rank == 24, F.get_json_object(v, "$"))
    keys = [rank, key_bool, key_num, key_str]
    ordered = [
        (k.desc_nulls_last() if descending else k.asc_nulls_last()) for k in keys
    ]
    return [is_missing.asc()] + ordered


@dataclass
class Compiled:
    """Result of compiling one query node.

    Exactly one of ``pred`` / ``ids`` is the authority for set membership:
    pure subtrees keep a Column predicate (no materialization), ranked
    subtrees carry id-set + scored frames.
    """

    pred: Column | None = None
    ids: DataFrame | None = None  # (id)
    ranked: DataFrame | None = None  # (id, _distance, _score, _hybridScore)
    # True when ``ids`` is bounded by branch limits (ranked leaves and
    # compositions dominated by them) — such frames are always safe to
    # broadcast by hint, table size notwithstanding.
    ids_bounded: bool = False
    # True when the ``ids`` set is PROVABLY equal to ``ranked``'s id set
    # (ranked leaves, and bool compositions that preserve the equality).
    # ``_assemble`` then skips the filter-set backfill outright: the
    # leftover set is empty by construction, and materializing it costs an
    # anti-join plus a full second scan of the table (r13, guide §2.4 —
    # remove an exchange the data can't populate).
    ids_is_ranked: bool = False

    @property
    def is_pure(self) -> bool:
        return self.pred is not None


class SearchEngine:
    """Compiles SemaDB search requests against one collection DataFrame.

    Invariant (ADVICE r13): ``df``'s ``id_col`` values must be unique — the
    reference's point-id contract (every point has exactly one row). Leaf
    ranked frames inherit distinctness from their per-id topk/groupBy
    shapes, and the all-ranked boolean fast path decides conjunction
    membership by counting contributing children per id, which is only
    equivalent to the general path's semi-join intersection under this
    invariant. A duplicate base-table id would also double point rows in
    every assembled result, so it is a data bug upstream of the compiler.

    Batch-mode ordering contract (ADVICE r13): a request with an explicit
    ``limit: None``, no offset and no user sort keys returns an UNORDERED
    result set (the result SET is deterministic; row order is not) — batch
    consumers get no presentation sort, which at scale removes a
    range-sampling pass plus a full sort exchange. Limited, offset and
    user-sorted requests keep the deterministic ranked-first order.
    """

    def __init__(
        self,
        df: DataFrame,
        schema: IndexSchema | dict | str,
        id_col: str = "_id",
        text_indexes: dict[str, DataFrame] | None = None,
        text_index_stats: dict[str, int] | None = None,
        vector_indexes: dict[str, object] | None = None,
        quantized_indexes: dict[str, object] | None = None,
        graph_indexes: dict[str, dict] | None = None,
    ) -> None:
        self.df = df
        self.schema = (
            schema if isinstance(schema, IndexSchema) else IndexSchema.from_json(schema)
        )
        self.id_col = id_col
        # property -> prebuilt doc_terms table (reused across searches)
        self.text_indexes = dict(text_indexes or {})
        # property -> corpus document count (the reference's _numDocuments
        # counter, an index-time artifact; skips a per-query distinct)
        self.text_index_stats = dict(text_index_stats or {})
        # property -> prebuilt ANN index (operators.ann.IVFIndex). Used for
        # unfiltered vectorVamana queries — the property type that declares
        # approximate-search intent in the reference (models/index.go:275).
        self.vector_indexes = dict(vector_indexes or {})
        # property -> operators.quantize.QuantizedIndex. A vector property
        # with a schema-declared quantizer serves transparently from its
        # codes — the reference wraps the whole vector store this way
        # (shard/vectorstore/vectorstore.go:75+).
        self.quantized_indexes = dict(quantized_indexes or {})
        # property -> persisted Vamana graph artifact handle:
        # {"shard_nodes": df, "shard_edges": df, "centroids": np.ndarray,
        #  "search_size": int, "metric": str}. Used for FILTERED
        # vectorVamana queries: the reference seeds the beam with filtered
        # points and walks the full graph (search.go:28-51) — exact
        # seeded-beam parity, served distributed via vamana_serve.
        self.graph_indexes = dict(graph_indexes or {})
        # property -> packed 0.5-threshold codes for D8 bit-metric queries,
        # built on first use and reused across searches on this engine (the
        # reference's auto-wrapped binary store, vectorstore.go:51-73)
        self._d8_codes: dict[tuple, DataFrame] = {}

    def close(self) -> None:
        """Release executor storage held by this engine's persisted frames.

        The reference bounds its shard cache explicitly (cache/manager.go,
        1 GiB cap in config/singleServer.yaml:61) and evicts decoded shards;
        the Spark analogue is unpersisting the packed D8 code frames when
        the owning Collection rotates or invalidates the engine — without
        this, every DML on a served collection strands one persisted frame
        in executor storage memory until JVM LRU eviction."""
        for frame in self._d8_codes.values():
            try:
                frame.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
        self._d8_codes.clear()

    # -- public API ---------------------------------------------------------

    def search(self, request: dict) -> DataFrame:
        """Execute a full SearchRequest; returns the shaped result frame with
        ``_distance``/``_score``/``_hybridScore`` plus selected columns.

        Ordering: limited, offset and user-sorted requests return rows in
        the deterministic ranked-first order. A batch-shape request
        (explicit ``limit: None``, no offset, no sort) returns an UNORDERED
        frame — the result SET is deterministic and the ordering columns
        stay in the rows, but consumers needing a presentation order must
        sort (or pass sort keys); see the class docstring.
        """
        plan = parse(request, self.schema, self.df.columns, self.id_col)
        return self._shape(self._assemble(self._compile(plan.query)), plan.shape)

    def explain(self, request: dict, mode: str = "formatted") -> str:
        """Compile a SearchRequest and return Spark's physical plan for it
        (``df.explain`` modes: formatted | simple | extended | cost |
        codegen). The plan-shape assertions in ``tests/test_plans.py`` pin
        the load-bearing markers (PushedFilters at the parquet scan,
        TakeOrderedAndProject for pagination pre-trim, broadcast joins on
        the bounded sides); this surfaces the same evidence for any ad-hoc
        request — the Spark-native analogue of a query debugger for the
        reference's opaque shard search."""
        plan = self.search(request)
        return plan._jdf.queryExecution().explainString(
            plan.sparkSession._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString(mode)
        )

    def _compile(self, node) -> Compiled:
        if isinstance(node, Bool):
            return self._compile_bool(
                [self._compile(c) for c in node.children], node.conjunction
            )
        if isinstance(node, VectorLeaf):
            return self._compile_vector(node)
        if isinstance(node, TextLeaf):
            return self._compile_text(node)
        return Compiled(pred=self._filter_pred(node))

    # -- leaf filters (F1-F10) ---------------------------------------------

    def _filter_pred(self, node) -> Column:
        if isinstance(node, IdFilter):
            # shard/index/search.go:171-209: equals or containsAny over
            # UUIDs; unknown ids silently match nothing.
            if node.operator == "equals":
                return F.col(self.id_col) == F.lit(node.value)
            return F.col(self.id_col).isin(list(node.value))
        c = F.col(node.prop)  # dotted paths resolve into structs natively
        if isinstance(node, RangeFilter):
            if node.fold:
                # case folding at index & query time (inverted/string.go:29-50)
                c = F.lower(c)
            if node.operator == "startsWith":
                return c.startswith(node.value)
            return self._range_op(
                c, node.operator, F.lit(node.value), F.lit(node.end_value)
            )
        if node.fold:
            c = F.transform(c, F.lower)
        lit_arr = F.array(*[F.lit(v) for v in node.values])
        if node.contains_all:
            # AND of per-value equals lookups (inverted/array.go:58-78)
            return F.size(F.array_intersect(c, lit_arr)) == len(node.values)
        return F.arrays_overlap(c, lit_arr)

    @staticmethod
    def _range_op(c: Column, op: str, v: Column, end: Column) -> Column:
        # Missing (null) values are never in any posting list, so every
        # operator including notEquals excludes them (inverted.go:183-252).
        if op == "equals":
            return c == v
        if op == "notEquals":
            return c != v
        if op == "greaterThan":
            return c > v
        if op == "greaterThanOrEquals":
            return c >= v
        if op == "lessThan":
            return c < v
        if op == "lessThanOrEquals":
            return c <= v
        # inRange: inclusive both ends (inverted.go:244-252)
        return (c >= v) & (c <= end)

    # -- ranked leaves (R1-R5) ---------------------------------------------

    def _prefiltered_df(self, flt) -> DataFrame:
        """Apply a ranked leaf's pre-filter (R4): computed BEFORE the ranked
        search, pure predicates stay in the same scan."""
        if flt is None:
            return self.df
        sub = self._compile(flt)
        if sub.is_pure:
            return self.df.filter(sub.pred)
        return self.df.join(sub.ids, self.id_col, "left_semi")

    def _filter_ids(self, flt) -> tuple[DataFrame | None, bool]:
        """(candidate id frame, small) of a filtered ANN leaf. Optimistic
        probing (the reference's filtered-ANN mode,
        docs/content/docs/search/filtered.md:49-51) can miss matches whose
        cells aren't probed — a recall cliff when the filter is highly
        selective. Bounded early-stop count: a small candidate set is
        exact-scanned instead (cheap AND full recall); the limit makes the
        probe cheap for non-selective filters (the scan stops once the
        threshold is exceeded)."""
        if flt is None:
            return None, False
        ids = self._prefiltered_df(flt).select(self.id_col)
        n = ids.limit(logical.FILTERED_EXACT_FALLBACK_ROWS + 1).count()
        return ids, n <= logical.FILTERED_EXACT_FALLBACK_ROWS

    def _compile_vector(self, leaf: VectorLeaf) -> Compiled:
        prop, key, metric = leaf.prop, leaf.kind, leaf.metric
        vector, limit, flt = leaf.vector, leaf.limit, leaf.filter
        ann_index = self.vector_indexes.get(prop)
        q_index = self.quantized_indexes.get(prop)
        from semadb_spark.operators.ann import IVFBQIndex, IVFPQIndex

        fused_quantized = (
            isinstance(ann_index, (IVFBQIndex, IVFPQIndex))
            and metric in ("euclidean", "cosine", "dot")
        )
        graph_q = self.graph_indexes.get(prop) if key == "vectorVamana" else None
        quantized_graph = (
            graph_q is not None
            and graph_q.get("packed") is not None
            and graph_q.get("packed_codes") in ("bq", "pq")
            and q_index is not None
            and metric in ("euclidean", "cosine", "dot")
        )
        qg_flt_ids = None
        if quantized_graph and flt is not None:
            # filtered quantized-graph route (r9): a BROAD candidate set
            # runs the reference's seeded quantized beam on the packed
            # artifact (search.go:28-51 + vamana.go:257-259 — filter-
            # seeded beams scoring stored codes, exact float rerank); a
            # small set keeps the pre-r9 filtered routes below (fused /
            # flat quantized scan or exact fallback — full recall at
            # lower cost than any beam).
            qg_flt_ids, small = self._filter_ids(flt)
            if small:
                quantized_graph = False
                qg_flt_ids = None
        if quantized_graph and graph_q.get("quantizer_fp") is not None:
            # the codes in the packed blobs were baked with a specific fit;
            # serving them against a DIFFERENT resolved quantizer would
            # degrade silently (ADVICE r8) — error instead. Legacy
            # artifacts without a recorded fp skip the check.
            from semadb_spark.collection import _quantizer_fingerprint

            if graph_q["packed_codes"] == "bq":
                got_fp = _quantizer_fingerprint(
                    {"kind": "binary", "thresholds": q_index.thresholds}
                )
            else:
                got_fp = _quantizer_fingerprint(
                    {
                        "kind": "product",
                        "centroids": q_index.books.centroids,
                        "pq_metric": q_index.books.metric,
                    }
                )
            if got_fp != graph_q["quantizer_fp"]:
                raise ValueError(
                    f"quantizer drift for {prop}: packed codes baked with "
                    f"fit {graph_q['quantizer_fp']} but the resolved frozen "
                    f"quantizer is {got_fp}; rebuild the index "
                    "(build_vamana_index) to re-bake codes"
                )
        if quantized_graph:
            # Quantized-THROUGH-GRAPH serving (the reference's actual
            # vectorVamana+quantizer architecture, vamana.go:257-259: the
            # beam walks the Vamana graph scoring stored codes, then the
            # final pool exact-reranks). Available once build_vamana_index
            # ran after the quantizer froze — the packed blobs then carry
            # the codes. beam_on="auto" resolves to the asymmetric bq_adc
            # byte-LUT beam for binary codes (r7: recall 0.84 vs 0.30
            # symmetric at identical artifact bytes) and the PQ-ADC beam
            # for product codes. Filtered queries with a BROAD candidate
            # set stay on this route too (r9): the packed filtered
            # seeded-beam walks the quantized graph with filter-derived
            # seeds and exact-reranks seeds ∪ (visited ∩ filter); small
            # candidate sets keep the pre-r9 filtered routes below
            # (fused/flat quantized scan or exact fallback).
            from semadb_spark.operators.vamana import vamana_serve_packed

            search_size = int(leaf.search_size or graph_q["search_size"])
            nprobe = max(1, min(len(graph_q["centroids"]), search_size // 8))
            topk = vamana_serve_packed(
                graph_q["packed"],
                [("q", vector)],
                limit,
                metric=metric,
                search_size=search_size,
                centroids=graph_q["centroids"],
                # filtered mode fans to every shard holding a filtered
                # point (join-pruned inside vamana_serve_packed)
                nprobe=None if qg_flt_ids is not None else nprobe,
                dtype=graph_q.get("pack_dtype", "float32"),
                kernel="batched",
                compute_dtype="float32",
                n_seeds=32,
                thresholds=(
                    q_index.thresholds
                    if graph_q["packed_codes"] == "bq"
                    else None
                ),
                books=(
                    q_index.books if graph_q["packed_codes"] == "pq" else None
                ),
                candidate_ids=qg_flt_ids,
            ).select(F.col("_id").alias(self.id_col), "_distance")
        elif fused_quantized:
            # Quantizer-in-the-index serving (the reference wraps the fitted
            # quantizer INTO the vector index and serves index distances
            # over codes + rerank, vamana.go:257-259 / vectorstore.go:75+):
            # the persisted IVF artifact carries the frozen binary codes
            # next to the floats, so the fused kernel hamming-prefilters
            # each probed cell and exact-reranks in the same Arrow batch —
            # one pruned pass, no join. Preferred over the flat quantized
            # code scan whenever the artifact exists.
            from semadb_spark.operators.ann import ivfbq_search

            search_size = int(leaf.search_size or 75)
            nprobe = max(1, min(len(ann_index.centroids), search_size // 8))
            flt_ids, exact_fallback = self._filter_ids(flt)
            if exact_fallback:
                base = self._prefiltered_df(flt)
                topk = knn_ops.knn_topk(
                    base, prop, vector, metric, limit,
                    id_col=self.id_col,
                )
            elif isinstance(ann_index, IVFBQIndex):
                topk = ivfbq_search(
                    ann_index,
                    [("q", vector)],
                    limit,
                    nprobe=nprobe,
                    oversample=max(2, search_size // max(limit, 1)),
                    rerank_metric=metric,
                    candidate_ids=flt_ids,
                ).select(F.col(ann_index.id_col).alias(self.id_col), "_distance")
            else:
                from semadb_spark.operators.ann import ivfpq_search

                topk = ivfpq_search(
                    ann_index,
                    [("q", vector)],
                    metric,
                    limit,
                    nprobe=nprobe,
                    oversample=max(2, search_size // max(limit, 1)),
                    candidate_ids=flt_ids,
                ).select(F.col(ann_index.id_col).alias(self.id_col), "_distance")
        elif q_index is not None and self.schema[prop].quantizer is not None:
            # Schema-declared quantized serving: every query on this property
            # ranks over the codes (vectorstore.go:75+ — the reference's
            # store is wrapped the same way, filtered or not). A pre-filter
            # restricts the code scan by id semi-join.
            from semadb_spark.operators.quantize import quantized_topk

            import dataclasses

            codes = q_index.codes
            if flt is not None:
                base_ids = self._prefiltered_df(flt).select(self.id_col)
                codes = codes.join(base_ids, self.id_col, "left_semi")
            scoped = dataclasses.replace(q_index, codes=codes)
            topk = quantized_topk(scoped, vector, limit).select(
                self.id_col, "_distance"
            )
        elif (
            key == "vectorVamana"
            and ann_index is not None
            and metric not in ("hamming", "jaccard")
        ):
            # approximate serving over the persisted index — vectorVamana is
            # the reference's ANN type (beam search, vamana/search.go:9-102).
            # Filtered queries probe the same index with the pre-filter id
            # set restricting the rerank: the reference's filtered-ANN mode
            # (optimistic recall, docs/content/docs/search/filtered.md:49-51)
            # without ever scanning the full table.
            from semadb_spark.operators.ann import ivf_search

            search_size = int(leaf.search_size or 75)
            nprobe = max(1, min(len(ann_index.centroids), search_size // 8))
            flt_ids, exact_fallback = self._filter_ids(flt)
            graph = self.graph_indexes.get(prop)
            if exact_fallback:
                base = self._prefiltered_df(flt)
                topk = knn_ops.knn_topk(
                    base, prop, vector, metric, limit,
                    id_col=self.id_col,
                )
            elif flt_ids is not None and graph is not None:
                # TRUE reference filtered semantics (search.go:28-51): each
                # shard seeds its beam with up to searchSize filtered points,
                # walks the FULL graph, and only filtered points enter the
                # result — the seeded-beam mode, served distributed over the
                # persisted per-shard subgraphs (every shard, no routing —
                # the reference fans a search to all shards). The bounded
                # exact fallback above still takes small candidate sets:
                # full recall at lower cost than any optimistic walk.
                # PACKED layout preferred (r9): identical semantics/recall,
                # measured 3.7x faster than the row-table cogroup at 200k
                # rows (tools/repro_filtered_graph.py — blob decode beats
                # the per-query node+edge shuffle, and shards without
                # filtered points are join-pruned before any blob read).
                if graph.get("packed") is not None:
                    from semadb_spark.operators.vamana import (
                        vamana_serve_packed,
                    )

                    topk = (
                        vamana_serve_packed(
                            graph["packed"],
                            [("q", vector)],
                            limit,
                            metric=metric,
                            search_size=search_size,
                            dtype=graph.get("pack_dtype", "float32"),
                            kernel="batched",
                            compute_dtype="float32",
                            candidate_ids=flt_ids,
                            beam_on="float",
                        )
                        .select(F.col("_id").alias(self.id_col), "_distance")
                    )
                else:
                    from semadb_spark.operators.vamana import vamana_serve

                    topk = (
                        vamana_serve(
                            graph["shard_nodes"],
                            graph["shard_edges"],
                            [("q", vector)],
                            limit,
                            metric=metric,
                            search_size=search_size,
                            candidate_ids=flt_ids,
                        )
                        .select(F.col("_id").alias(self.id_col), "_distance")
                    )
            else:
                topk = ivf_search(
                    ann_index,
                    [("q", vector)],
                    metric,
                    limit,
                    nprobe=nprobe,
                    candidate_ids=flt_ids,
                ).select(F.col(ann_index.id_col).alias(self.id_col), "_distance")
        elif metric in ("hamming", "jaccard"):
            # D8: float vectors queried with a bit metric are force-binarized
            # at threshold 0.5 — the reference auto-wraps a binary quantizer
            # around the vector store and serves from the WRAPPED codes, it
            # never re-binarizes floats per query
            # (shard/vectorstore/vectorstore.go:51-73). Same here: the packed
            # code frame is built once per engine (Arrow-batched bq_encode),
            # cached across searches on this instance, and ranked by the
            # bit-metric scan kernel (per-task top-k trim — the scan touches
            # d bits per row, and only k rows per task reach the merge).
            import numpy as np

            from semadb_spark.operators.quantize import bq_encode, encode_bits_np

            base = self._prefiltered_df(flt)
            cache_key = (prop, flt is None)
            codes = self._d8_codes.get(cache_key) if cache_key[1] else None
            if codes is None:
                codes = bq_encode(
                    base.filter(F.col(prop).isNotNull()).select(self.id_col, prop),
                    prop,
                    0.5,
                ).select(self.id_col, "bq_code")
                if cache_key[1]:
                    # persist, not just memoize the plan: an unpersisted
                    # frame re-runs the full Arrow encode pass per query;
                    # the reference's wrapped quantizer stores codes once
                    # (vectorstore.go:51-73)
                    codes = codes.persist()
                    self._d8_codes[cache_key] = codes
            qcode = encode_bits_np(
                np.asarray(vector, dtype=np.float64)[None, :], np.asarray(0.5)
            )[0]
            topk = (
                knn_ops.knn_topk_scan(
                    codes,
                    "bq_code",
                    [("q", qcode.tolist())],
                    metric,
                    limit,
                    id_col=self.id_col,
                )
                .select(self.id_col, "_distance")
            )
        else:
            base = self._prefiltered_df(flt)
            topk = knn_ops.knn_topk(
                base, prop, vector, metric, limit, id_col=self.id_col
            )
        ranked = (
            topk.select(self.id_col, "_distance")
            .withColumn("_score", F.lit(None).cast("double"))
            .withColumn(
                # HybridScore = -1 * weight * distance (flat.go:79-110)
                "_hybridScore",
                F.lit(-1.0 * leaf.weight) * F.col("_distance"),
            )
        )
        return Compiled(
            ids=ranked.select(self.id_col),
            ranked=ranked,
            ids_bounded=True,
            ids_is_ranked=True,
        )

    def _compile_text(self, leaf: TextLeaf) -> Compiled:
        prop = leaf.prop
        doc_terms = self.text_indexes.get(prop)
        cand = None
        if leaf.filter is not None:
            # R4 pre-filter: intersect the candidate set BEFORE scoring and
            # truncation (text.go:333-335, 387-393); df/IDF remain
            # corpus-wide facts regardless of the filter.
            sub = self._compile(leaf.filter)
            cand = (
                self.df.filter(sub.pred).select(self.id_col)
                if sub.is_pure
                else sub.ids
            )
        scored = text_ops.text_search(
            self.df,
            prop,
            leaf.value,
            operator=leaf.operator,
            limit=leaf.limit,
            weight=leaf.weight,
            id_col=self.id_col,
            doc_terms=doc_terms,
            num_docs=self.text_index_stats.get(prop),
            candidate_ids=cand,
        )
        ranked = (
            scored.withColumnRenamed("id", self.id_col)
            .withColumn("_distance", F.lit(None).cast("double"))
            .select(self.id_col, "_distance", "_score", "_hybridScore")
        )
        return Compiled(
            ids=ranked.select(self.id_col),
            ranked=ranked,
            ids_bounded=True,
            ids_is_ranked=True,
        )

    # -- boolean composition (B1-B3) ---------------------------------------

    def _ids_of(self, c: Compiled) -> DataFrame:
        if c.is_pure:
            return self.df.filter(c.pred).select(self.id_col)
        return c.ids

    def _merge(self, children: list[Compiled], need: int | None = None) -> DataFrame:
        """Hybrid merge of the children's ranked frames: duplicate ids sum
        hybrid scores; first (lowest child index) non-null distance/score
        wins (search.go:255-289) — the struct min makes the reference's
        append-order rule deterministic. With ``need``, only ids ranked by
        that many children survive."""
        unioned = reduce(
            DataFrame.unionByName,
            [
                c.ranked.withColumn("_src", F.lit(i))
                for i, c in enumerate(children)
                if c.ranked is not None
            ],
        )
        aggs = [F.sum("_hybridScore").alias("_hybridScore")] + [
            F.min(
                F.when(F.col(c).isNotNull(), F.struct(F.col("_src"), F.col(c)))
            ).alias(alias)
            for c, alias in (("_distance", "_dmin"), ("_score", "_smin"))
        ]
        if need is not None:
            aggs.append(F.count(F.lit(1)).alias("_nsrc"))
        merged = unioned.groupBy(self.id_col).agg(*aggs)
        if need is not None:
            merged = merged.filter(F.col("_nsrc") == need)
        return merged.select(
            self.id_col,
            F.col("_dmin._distance").alias("_distance"),
            F.col("_smin._score").alias("_score"),
            "_hybridScore",
        )

    def _compile_bool(self, children: list[Compiled], conjunction: bool) -> Compiled:
        if all(c.is_pure for c in children):
            combine = (lambda a, b: a & b) if conjunction else (lambda a, b: a | b)
            return Compiled(pred=reduce(combine, [c.pred for c in children]))

        # All-ranked composition (r13): when EVERY child is ranked with
        # ids == its ranked ids, the id-set machinery folds into the merge
        # aggregation itself — membership count per id replaces the
        # semi-join intersection (_and) / the union+distinct set (_or),
        # and the post-merge bounding join disappears (guide §2.4: two
        # operations keyed the same way share one exchange). Each child's
        # ranked frame carries distinct ids (leaf topk/groupBy output; the
        # pre-existing "inner join is a semi join" comment below leans on
        # the same invariant), so count(*) per id == number of
        # contributing children. The merge is the general path's; _and keeps
        # ids present in all children (search.go:266-268), _or keeps them
        # all.
        if all(
            (not c.is_pure) and c.ids_is_ranked and c.ranked is not None
            for c in children
        ):
            merged = self._merge(children, len(children) if conjunction else None)
            return Compiled(
                ids=merged.select(self.id_col),
                ranked=merged,
                ids_bounded=True,
                ids_is_ranked=True,
            )

        # Mixed/ranked: materialize id sets (shard/index/search.go:248-252).
        if conjunction:
            # Ranked children's id sets are bounded by their branch limits;
            # pure-filter sets can be table-sized. Intersect by streaming
            # each unbounded set against a BROADCAST of the bounded
            # accumulator — by hint, so a 100 TB filter never becomes the
            # build side of a shuffle join.
            bounded = [self._ids_of(c) for c in children if c.ids_bounded]
            unbounded = [self._ids_of(c) for c in children if not c.ids_bounded]
            if bounded:
                acc = reduce(
                    lambda a, b: a.join(F.broadcast(b), self.id_col, "left_semi"),
                    bounded,
                )
                for f in unbounded:
                    # rows stream from f; result stays bounded (<= |acc|)
                    acc = f.join(F.broadcast(acc), self.id_col, "left_semi")
                final_set = acc
            else:
                final_set = reduce(
                    lambda a, b: a.join(b, self.id_col, "left_semi"), unbounded
                )
        else:
            id_frames = [self._ids_of(c) for c in children]
            final_set = reduce(DataFrame.unionByName, id_frames).distinct()

        merged = None
        if any(c.ranked is not None for c in children):
            merged = self._merge(children)
            if conjunction:
                # _and drops ranked rows outside the intersection
                # (search.go:266-268). merged is bounded by the sum of the
                # branch limits; final_set can be table-sized — so stream
                # final_set against the BROADCAST merged frame instead of
                # building a hash of the big side (ids are distinct on both
                # sides, making the inner join a semi join).
                merged = final_set.join(F.broadcast(merged), self.id_col).select(
                    self.id_col, "_distance", "_score", "_hybridScore"
                )
        bounded_out = (
            any(c.ids_bounded for c in children)
            if conjunction
            else all(c.ids_bounded for c in children)
        )
        # Does final_set == ids(merged)?
        # _and with any ranked child: merged is final_set ⋈ merged-union, so
        # ids(merged) = final_set ∩ merged_ids; if SOME child has
        # ids == its ranked ids then final_set ⊆ that child's ranked ids
        # ⊆ merged_ids, hence equality. _or: equality iff EVERY child's ids
        # coincide with its ranked ids (a pure child or a wider-than-ranked
        # child contributes score-less ids that must backfill as
        # filter-set rows).
        if conjunction:
            eq = merged is not None and any(
                (not c.is_pure) and c.ids_is_ranked for c in children
            )
        else:
            # An _or whose children ALL satisfy ids_is_ranked already
            # returned via the all-ranked fast path above, so on this path
            # at least one child contributes score-less ids that must
            # backfill as filter-set rows (ADVICE r13: the old
            # all-children check here was unreachable-True).
            eq = False
        return Compiled(
            ids=final_set, ranked=merged, ids_bounded=bounded_out, ids_is_ranked=eq
        )

    # -- result assembly + shaping (P1-P3, B4) ------------------------------

    def _assemble(self, compiled: Compiled) -> DataFrame:
        """Backfill point data: ranked rows keep scores, filter-only ids are
        appended with null scores (shard/shard.go:350-369)."""
        def unranked(rows: DataFrame) -> DataFrame:
            return (
                rows.withColumn("_distance", F.lit(None).cast("double"))
                .withColumn("_score", F.lit(None).cast("double"))
                .withColumn("_hybridScore", F.lit(0.0))
                .withColumn("_rankedFirst", F.lit(1))
            )

        if compiled.is_pure:
            return unranked(self.df.filter(compiled.pred))
        ranked = compiled.ranked
        ids = F.broadcast(compiled.ids) if compiled.ids_bounded else compiled.ids
        if ranked is None:
            return unranked(self.df.join(ids, self.id_col, "left_semi"))
        # ranked is bounded by the branch limits (<= 75 rows per ranked
        # leaf) — broadcast explicitly so the backfill never shuffles the
        # table, independent of AQE's runtime size estimate.
        ranked_rows = self.df.join(F.broadcast(ranked), self.id_col).withColumn(
            "_rankedFirst", F.lit(0)
        )
        if compiled.ids_is_ranked:
            # the id set IS the ranked set: the leftover filter-set is empty
            # by construction — skip the anti-join + second table scan that
            # would materialize it (r13; every pure-ranked query, i.e. all
            # knn/text leaves and all-ranked hybrids, takes this path)
            return ranked_rows
        # the anti build side (ranked ids) is always bounded; the leftover
        # set inherits compiled.ids' boundedness
        leftover_ids = compiled.ids.join(
            F.broadcast(ranked.select(self.id_col)), self.id_col, "left_anti"
        )
        if compiled.ids_bounded:
            leftover_ids = F.broadcast(leftover_ids)
        leftover_rows = unranked(self.df.join(leftover_ids, self.id_col, "left_semi"))
        return ranked_rows.unionByName(leftover_rows)

    def _shape(self, rows: DataFrame, shape: Shape) -> DataFrame:
        # Default order: ranked first by hybrid desc, then filter-only rows,
        # id tiebreak (shard.go:350-369 + search.go:291-295). User sort keys
        # take precedence with missing-last (utils/compare.go:56-89); the
        # default order acts as the stable-sort tiebreak.
        order = [
            F.col("_rankedFirst").asc(),
            F.col("_hybridScore").desc(),
            F.col(self.id_col).asc(),
        ]
        user_order: list = []
        for key in shape.sort:
            if key.payload:
                # Schemaless sort key: the field lives in the payload map
                # (JSON-encoded). Cross-type grouping per CompareAny.
                v = F.element_at(F.col("payload"), F.lit(key.root))
                if "." in key.path:
                    v = F.get_json_object(v, "$." + key.path.split(".", 1)[1])
                user_order.extend(_cross_type_sort_order(v, key.descending))
            elif key.descending:
                user_order.append(F.col(key.path).desc_nulls_last())
            else:
                user_order.append(F.col(key.path).asc_nulls_last())
        order = user_order + order

        offset, limit = shape.offset, shape.limit
        if limit is not None:
            # Distributed pre-trim: orderBy().limit() is TakeOrderedAndProject
            # (per-partition bounded top-k + driver merge). With no offset it
            # IS the answer — no global row_number window at all.
            rows = rows.orderBy(*order).limit(offset + limit)
        elif offset or user_order:
            # unlimited but offset or explicitly sorted: honor the order
            rows = rows.orderBy(*order)
        if offset:
            # Slice off the offset. Limited: the window sees at most
            # offset+limit (<= 200) pre-trimmed rows, so single-partition is
            # free. Unlimited + offset is the one shape that still needs a
            # global row_number over the full result (rare; prefer a limit).
            w = Window.orderBy(*order)
            rows = (
                rows.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > offset)
                .drop("_rn")
            )
        # else: batch mode (explicit null limit, no offset, no sort keys) —
        # return the full result set UNORDERED. The default ranked-first
        # order exists for paginated API responses; globally sorting an
        # unbounded batch result costs a range-sampling pass plus a full
        # sort exchange (r13: one extra job per query at any scale, a full
        # extra shuffle of the entire result at 100 TB) and every ordering
        # column (_hybridScore, _distance, _score, id) is still present in
        # the rows for consumers that need it. Spark guide §2.4: remove an
        # orderBy used only to make output deterministic.
        rows = rows.drop("_rankedFirst")

        sel = shape.select
        if sel is not None:
            cols = [F.col(c) for c in sel.columns]
            for root, fields in sel.nested:
                # re-nest dotted selects: {"nested": {"field": v}} (shard.go:431-448)
                nested = [F.col(f"{root}.{f}").alias(f) for f in fields]
                cols.append(F.struct(*nested).alias(root))
            cols += [F.col(c) for c in RANKED_COLS]
            rows = rows.select(*cols)
        return rows
