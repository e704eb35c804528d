"""Driver-local JSON query-tree serving — the whole search lifecycle in ONE
process, no Spark job (Collection.search_local).

The reference's query lifecycle IS a point-read: one request thread runs
filter -> rank -> hybrid merge -> shape inside the shard process
(shard/shard.go:329-472). The Spark engine (:mod:`.compiler`) re-expresses
that as a distributed plan, which is right for analytics batches but puts a
~150 ms scheduler+py4j floor under every request — engine point-reads
measure ~2-7 QPS on this host class no matter how cheap the query. The
per-modality point-read tiers already exist (text_serve_local,
vamana_serve_local, the serving pools); this module is the missing
composition: it compiles the SAME query tree as
:class:`~semadb_spark.plans.compiler.SearchEngine` but routes every leg
through the local tiers and does the hybrid merge in pandas.

Both engines compile from the same front-end: :func:`.logical.parse`
validates and normalizes a request once, so the two accept, default and
reject requests identically, and a shape this tier cannot serve is refused
from the plan before any leg runs. Execution is pinned to the compiler
(parity-tested per leaf kind and per composed shape):

- pure-filter subtrees -> an exact pandas predicate over resident columns.
  Filter columns are decoded from the bucketed snapshot ONCE per engine
  (the reference keeps its inverted indexes resident in the shard process
  the same way), so per-request parquet pushdown would only help the very
  first request — the resident-column evaluate is the serving hot path.
- text leaves -> :func:`~semadb_spark.operators.text_search.text_serve_local`
  over the persisted posting index (required — build_text_index first),
  with R4 pre-filters applied before scoring/truncation.
- vector leaves -> exact NumPy scan over a per-snapshot cached (ids, X)
  matrix, mirroring the compiler's exact top-k route (the route the engine
  takes when no IVF/quantizer artifact exists; vectorVamana executes as
  exact top-k there too, compiler.py module note). ``vector_mode="graph"``
  opts UNFILTERED vectorVamana legs into the packed-artifact beam
  (:func:`~semadb_spark.operators.vamana.vamana_serve_local`) — the
  reference's actual serving shape, approximate by design (recall < 1), so
  it is opt-in rather than silently diverging from the engine's exact
  results.
- hybrid ``_and``/``_or`` merge -> pandas groupby with the compiler's exact
  rules (shard/index/search.go:248-297): duplicate ids sum hybrid scores,
  first non-null distance/score by child index wins, ``_and`` drops ranked
  rows outside the intersection.
- shaping -> ranked-first ordering, user sort keys missing-last, offset/
  limit, select with dotted re-nest (shard/shard.go:329-472 order).

- IVF-indexed float properties serve LOCALLY with engine parity (r12): the
  compiler's probe route is centroid-shortlist + exact rerank inside the
  probed cells, and both halves are driver-tractable — centroids are a
  tiny json, the assignment artifact becomes a resident (ids, X, cell)
  matrix exactly like the exact route's ``_vec_matrix``. Same nprobe
  formula, same float64 math, same (distance, id) ordering.

- flat quantized CODE-SCAN properties (schema-declared quantizer, no
  fused IVF artifact) serve LOCALLY with engine parity (r12): binary
  encodes the query with the frozen thresholds and ranks by the declared
  bit metric over resident packed codes; product ranks by the same ADC
  table ``pq_adc_distance_expr`` folds — filtered queries mask the code
  rows exactly like the engine's semi-join.

Only the fused IVF-BQ/IVF-PQ oversample+rerank route still raises
:class:`LocalServeUnsupported` among the vector tiers (its
candidate-pool mechanics are engine-side); callers fall back to
``Collection.search``. Filtered quantized-graph legs, text legs without a
persisted index and payload (schemaless) sort keys are likewise refused,
all from the plan. The one refusal that depends on the data is a
broad-filtered query on a graph+IVF property (the engine's seeded-beam
walk), raised when the candidate set is known.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from semadb_spark.operators._pool import ServePool
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
    walk,
)

# internal ranked-frame id column. Deliberately NOT "id": nothing reserves
# "id" as a property name, so a collection may legally define one — the
# helper must never collide with a user column in the final backfill merge.
RID = "__rid"


class LocalServeUnsupported(ValueError):
    """Query shape or collection state this point-read tier cannot serve
    with engine parity; fall back to Collection.search."""


def _leaf_series(pdf: pd.DataFrame, prop: str) -> pd.Series:
    """Resolve a (possibly dotted) property path against a scanned pandas
    frame: root columns are real columns, nested fields live in struct
    columns that pyarrow hands over as dicts."""
    root = prop.split(".", 1)[0]
    s = pdf[root]
    if "." not in prop:
        return s
    for part in prop.split(".")[1:]:
        s = s.map(lambda v, p=part: v.get(p) if isinstance(v, dict) else None)
    return s


@dataclass
class _LocalCompiled:
    """Local analogue of compiler.Compiled. Exactly one of ``pred`` /
    ``mask`` is the set authority: pure subtrees keep (pandas_fn,
    needed_cols); ranked/mixed subtrees carry a boolean membership mask
    over the snapshot's canonical row order (set algebra on masks is O(n)
    bitwise, where id-set intersections were measured re-hashing
    100k-element object sets per query) plus the scored frame."""

    pred: tuple | None = None  # (fn(pdf)->bool ndarray, set[str] cols)
    mask: np.ndarray | None = None  # bool over canonical row order
    ranked: pd.DataFrame | None = None  # RID, _distance, _score, _hybridScore

    @property
    def is_pure(self) -> bool:
        return self.pred is not None


def _no_hits() -> pd.DataFrame:
    return pd.DataFrame(
        {RID: pd.Series([], dtype=object), "_distance": pd.Series([], dtype=float)}
    )


def _dists(X: np.ndarray, n2: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """Query distances to float rows — the shared kernel's formulas.
    Euclidean runs inline with cached row norms ``n2``: one GEMV + saxpy,
    same ||x||² - 2x·q + ||q||² formula (and clamp), minus the kernel's
    per-call rows x d squared temp."""
    if metric == "euclidean":
        return np.maximum(n2 - 2.0 * (X @ q) + (q @ q), 0.0)
    if metric == "dot":
        return -(X @ q)
    if metric == "cosine":
        return 1.0 - X @ q
    from semadb_spark.functions.distances import numpy_distance_matrix

    return numpy_distance_matrix(metric, X, q[None, :])[:, 0]


class LocalSearchEngine:
    """Compiles SemaDB search requests against one Collection snapshot,
    entirely driver-local. Version-pinned: the data files and every index
    artifact resolve from ONE manifest (``version``, default the current
    one), so a commit during the open cannot mix versions. Build one per
    snapshot (the Collection caches it exactly like its Spark engine
    cache)."""

    def __init__(self, collection, vector_mode: str = "auto",
                 graph_nprobe: int | None = None, version: int | None = None):
        if vector_mode not in ("auto", "graph"):
            raise ValueError(f"unknown vector_mode {vector_mode}")
        self.schema = collection.schema
        self.id_col = "_id"
        self.vector_mode = vector_mode
        # serving knob for the OPT-IN graph mode only: beams per vector leg
        # are the point-read cost unit (~5 ms each on 16k-row sub-shards),
        # and the compiler's analytics formula (search_size // 8 cents)
        # probes 5x what a latency-tier point-read needs — the proven
        # vector point-read rows serve nprobe=1 (bench vamana_10m
        # point_read). None keeps the compiler formula. The ENGINE-parity
        # quantized-graph route ignores this (parity pins its params).
        self.graph_nprobe = None if graph_nprobe is None else int(graph_nprobe)
        # pin the snapshot ONCE: manifest -> concrete parquet file list
        import glob

        snap = collection._snapshot(version)
        self.version = snap["version"]
        self.files: list[str] = []
        for rel in snap["buckets"].values():
            self.files.extend(
                sorted(glob.glob(os.path.join(collection.path, rel, "*.parquet")))
            )
        with open(
            os.path.join(collection._data_path(self.version), "_frame_schema.json")
        ) as f:
            self._frame_fields = [
                fld["name"] for fld in json.loads(f.read())["fields"]
            ]
        # text serving artifacts (persisted posting index + _numDocuments)
        self.text: dict[str, tuple[str, int]] = {}
        # packed vamana artifacts for the graph vector_mode
        self.graph: dict[str, dict] = {}
        # properties whose ENGINE route is not the exact scan (fused /
        # code-scan / quantized-graph): serving them locally would silently
        # return different results than Collection.search — refuse instead
        self.unsupported_vec: dict[str, str] = {}
        # pure-float IVF probe route served LOCALLY (r12): centroids are a
        # driver-loadable json, the assignment artifact is the resident
        # matrix — same resident-column design the graph tier uses
        self.ivf: dict[str, dict] = {}
        # flat quantized CODE-SCAN route served locally (r12): thresholds/
        # codebooks come from the persisted _quantizer.json, the codes
        # parquet becomes a resident (ids, codes) matrix
        self.qscan: dict[str, dict] = {}
        self._graph_artifacts: set[str] = set()
        for p, v in self.schema.items():
            if v.type == "text":
                path = collection._index_path(p, snap)
                if path is not None:
                    with open(os.path.join(path, "_num_docs.json")) as f:
                        self.text[p] = (path, int(json.load(f)["num_docs"]))
            if v.type in ("vectorFlat", "vectorVamana"):
                # same liveness checks the Spark engine uses to pick its
                # route (collection._quantized_indexes/_vector_indexes):
                # if the engine would serve codes or probe IVF, local exact
                # results would silently differ — refuse instead
                qpath = collection._qindex_path(p, snap)
                vpath = collection._vindex_path(p, snap)
                if qpath is not None:
                    with open(os.path.join(qpath, "_quantizer.json")) as f:
                        qm = json.load(f)
                    # a live IVF artifact whose schema carries the
                    # matching code column flips the ENGINE to the
                    # fused oversample+rerank kernel (compiler
                    # fused_quantized) — that route stays engine-only;
                    # otherwise the engine's route is the flat code scan
                    # (quantized_topk), which serves locally from the
                    # resident codes (r12, same design as _ivf_topk)
                    fused = False
                    if vpath is not None:
                        import pyarrow.dataset as pads

                        names = pads.dataset(
                            vpath, format="parquet", partitioning="hive"
                        ).schema.names
                        want = ("bq_code" if qm["kind"] == "binary"
                                else "pq_code")
                        fused = want in names
                    if fused:
                        self.unsupported_vec[p] = (
                            f"fused IVF-{qm['kind']} route"
                        )
                    else:
                        self.qscan[p] = {"path": qpath, "meta": qm}
                elif vpath is not None:
                    # ENGINE route = ivf_search over the persisted artifact
                    # (compiler.py float-ANN branch). Served locally with
                    # the SAME probe math + exact rerank (_ivf_topk); the
                    # artifact rows load lazily on first vector query.
                    with open(os.path.join(vpath, "_centroids.json")) as f:
                        self.ivf[p] = {
                            "path": vpath,
                            "centroids": np.asarray(
                                json.load(f), dtype=np.float64
                            ),
                        }
            if v.type == "vectorVamana":
                try:
                    idx, meta = collection._vamana_artifact(p, snap)
                except ValueError:
                    continue
                # the ENGINE's graph_indexes key off _graph.json alone
                # (packed optional) — its filtered-ANN routing does too, so
                # the IVF route's refusal check must as well
                self._graph_artifacts.add(p)
                packed = os.path.join(idx, "packed")
                if os.path.exists(os.path.join(packed, "_SUCCESS")):
                    self.graph[p] = {
                        "packed": packed,
                        "centroids": np.asarray(
                            meta["centroids"], dtype=np.float64
                        ),
                        "search_size": int(meta["search_size"]),
                        "metric": meta["metric"],
                        "pack_dtype": meta.get("pack_dtype", "float32"),
                        "packed_codes": meta.get("packed_codes"),
                        "thresholds": None,
                        "books": None,
                    }
                    if meta.get("packed_codes"):
                        # quantized-THROUGH-graph: when the ENGINE would
                        # take the quantized-graph route (packed codes +
                        # resolvable frozen quantizer + supported metric,
                        # compiler.py quantized_graph predicate), the local
                        # tier serves the SAME ADC beam kernel
                        # (vamana_serve_local, parity-pinned to
                        # vamana_serve_packed) — that IS engine parity for
                        # these collections, so it is NOT opt-in. Every
                        # other quantized shape stays a refusal (the engine
                        # serves code-scan / fused routes there).
                        q_ok = (
                            meta["metric"] in ("euclidean", "cosine", "dot")
                            and v.quantizer is not None
                            and qpath is not None
                        )
                        if q_ok:
                            try:
                                thr, books = (
                                    collection._resolve_packed_quantizer(
                                        p, meta, snap
                                    )
                                )
                            except ValueError as e:
                                # fingerprint drift: the Spark engine raises
                                # the rebuild error — route there
                                self.unsupported_vec.setdefault(
                                    p, f"quantizer drift ({e})"
                                )
                            else:
                                self.graph[p]["thresholds"] = thr
                                self.graph[p]["books"] = books
                                # clears any code-scan refusal set above:
                                # the engine's route precedence puts the
                                # quantized graph FIRST (compiler.py _compile_vector)
                                self.unsupported_vec.pop(p, None)
                        else:
                            self.unsupported_vec.setdefault(
                                p, "quantized packed graph without a "
                                   "resolvable frozen quantizer",
                            )
        self._dset = None
        self._vec_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._ivf_cache: dict[str, tuple] = {}
        self._qscan_cache: dict[str, tuple] = {}
        self._d8_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        # filter-column residency: decoded once per snapshot, reused by
        # every request — the local analogue of the reference keeping its
        # inverted indexes resident in the shard process (a serving node
        # holds the columns it filters on; re-decoding parquet per
        # point-read would put an IO floor under every filter leg)
        self._col_cache: dict[str, pd.Series] = {}
        # assembled-frame + case-folded-column caches (requests repeat the
        # same column sets; pandas frame assembly from cached Series costs
        # ~20 ms/call at 200k rows, str.lower() ~30 ms — both per-snapshot
        # facts, not per-query work)
        self._frame_cache: dict[tuple, pd.DataFrame] = {}
        self._fold_cache: dict[str, pd.Series] = {}
        # factorized string columns for equality predicates: comparing a
        # 1M-row OBJECT array to a scalar measured 46 ms/query (pandas
        # comp_method_OBJECT_ARRAY); int32 code compare is ~1 ms. Built
        # once per (root, fold) — the local analogue of the reference's
        # per-value posting lists (string equality IS a posting lookup
        # there, inverted.go)
        self._code_cache: dict[tuple, tuple] = {}
        # canonical row order: id array / hash index / id-sorted permutation
        # / pre-gathered sorted ids, built once per snapshot (lazy)
        self._canon: tuple | None = None

    # -- snapshot scan --------------------------------------------------------

    def _dataset(self):
        if self._dset is None:
            import pyarrow.dataset as pads

            self._dset = pads.dataset(self.files, format="parquet")
        return self._dset

    def _scan(self, columns: list[str]) -> pd.DataFrame:
        """Columnar snapshot read: requested root columns only, full
        canonical row order (columns decode once into the resident cache;
        see the module note on why there is no per-request pushdown)."""
        cols = [c for c in dict.fromkeys(columns) if c in self._frame_fields]
        if not self.files:
            return pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})
        tbl = self._dataset().to_table(columns=cols)
        return tbl.to_pandas()

    def _col_frame(self, cols) -> pd.DataFrame:
        """id + requested root columns off the resident column cache (full
        snapshot order — pyarrow dataset scans are deterministic over the
        pinned file list, so separately-scanned columns align). Assembled
        frames are cached per column set: block-manager construction from
        existing Series measured ~20 ms/call at 200k rows."""
        wanted = tuple(
            dict.fromkeys([self.id_col, *[c for c in cols if c != self.id_col]])
        )
        hit = self._frame_cache.get(wanted)
        if hit is not None:
            return hit
        missing = [
            c for c in wanted
            if c not in self._col_cache and c in self._frame_fields
        ]
        if missing:
            pdf = self._scan(missing)
            for c in missing:
                self._col_cache[c] = pdf[c]
        frame = pd.DataFrame(
            {c: self._col_cache[c] for c in wanted if c in self._col_cache}
        )
        self._frame_cache[wanted] = frame
        return frame

    def _folded(self, s: pd.Series, prop: str) -> pd.Series:
        """Case-folded string series, cached per root column when the input
        IS the resident column (full snapshot length) — folding 200k
        strings per query measured ~30 ms."""
        root = prop.split(".", 1)[0]
        cached = self._col_cache.get(root)
        # pure-leaf fns only ever evaluate over _col_frame's full canonical
        # frames, so a length match means this IS the resident column
        if "." not in prop and cached is not None and len(s) == len(cached):
            hit = self._fold_cache.get(root)
            if hit is None:
                hit = cached.str.lower()
                self._fold_cache[root] = hit
            return hit
        return s.str.lower()

    def _codes_of(self, root: str, fold: bool) -> tuple | None:
        """(int codes ndarray, value->code mapping) for a resident root
        string column, factorized once per snapshot (nulls = -1)."""
        key = (root, fold)
        hit = self._code_cache.get(key)
        if hit is None:
            col = self._col_cache.get(root)
            if col is None:
                return None
            base = self._folded(col, root) if fold else col
            codes, uniques = pd.factorize(
                base.to_numpy(dtype=object), use_na_sentinel=True
            )
            hit = (codes, {v: i for i, v in enumerate(uniques)})
            self._code_cache[key] = hit
        return hit

    def _canonical_ids(self) -> tuple[np.ndarray, pd.Index, np.ndarray]:
        """(ids_all, hash index, argsort permutation) over the canonical
        snapshot row order — the one-time state every mask operates in.
        The argsort is what makes default-order paging O(page): filter-only
        rows order by id asc, so 'sorted ids where mask' is a gather
        through the precomputed permutation, never a per-query sort."""
        if self._canon is None:
            ids_all = self._col_frame([])[self.id_col].to_numpy(dtype=object)
            order = np.argsort(ids_all, kind="stable")
            self._canon = (ids_all, pd.Index(ids_all), order, ids_all[order])
        return self._canon[:3]

    def _rows_for_ids(self, ids: np.ndarray) -> pd.DataFrame:
        """Point-read full rows for a bounded id page — a positional gather
        off the resident columns. The first call decodes each column once
        (the reference's decode-once shard cache, cache/manager.go: a
        serving node HOLDS its shard); per-query parquet point-reads were
        measured at ~60 ms/page because a 10-id page touches ~10 bucket
        files and parquet decodes whole row groups, body bytes included."""
        if len(ids) == 0:
            return pd.DataFrame(
                {c: pd.Series([], dtype=object) for c in self._frame_fields}
            )
        pdf = self._col_frame(self._frame_fields)
        _, index, _ = self._canonical_ids()
        pos = index.get_indexer(np.asarray(ids, dtype=object))
        return pdf.iloc[pos[pos >= 0]].reset_index(drop=True)

    # -- public API -----------------------------------------------------------

    def preload_graph_artifacts(self) -> int:
        """Eagerly decode every graph-served packed artifact into the
        local serve cache (same dtypes the serve path uses) — returns
        the number of cent partitions made resident. A fresh serving
        process otherwise RAMPS to steady state while queries lazily
        fault + decode cents (measured 40 -> 93 QPS over five rounds on
        the cold-cache 1M hybrid pool); a pool worker about to take
        traffic should pay the whole decode once at spawn. No-op for
        engines with no graph artifacts. See
        :func:`semadb_spark.operators.vamana.preload_packed_local` for
        the cache-capacity bound (oversized artifacts stay lazy)."""
        from semadb_spark.operators.vamana import preload_packed_local

        total = 0
        for g in self.graph.values():
            total += preload_packed_local(
                g["packed"], dtype=g["pack_dtype"], compute_dtype="float32"
            )
        return total

    def search(self, request: dict) -> pd.DataFrame:
        """Execute a full SearchRequest locally; returns a pandas frame with
        the engine's output shape (point columns + _distance/_score/
        _hybridScore), ordered exactly like Collection.search."""
        plan = parse(request, self.schema, self._frame_fields)
        self._check_servable(plan)
        compiled = self._compile(plan.query)
        return self._assemble_and_shape(compiled, plan.shape)

    def _check_servable(self, plan) -> None:
        """Structural refusals, decided from the plan before any leg runs
        (only the broad graph+IVF candidate check waits for the data)."""
        for node in walk(plan.query):
            if isinstance(node, TextLeaf) and node.prop not in self.text:
                raise LocalServeUnsupported(
                    f"no persisted text index for {node.prop} at this "
                    "snapshot; run build_text_index (the local tier never "
                    "re-tokenizes the corpus per query)"
                )
            if not isinstance(node, VectorLeaf):
                continue
            if node.prop in self.unsupported_vec:
                raise LocalServeUnsupported(
                    f"property {node.prop} serves through a distributed route "
                    f"({self.unsupported_vec[node.prop]}); use Collection.search"
                )
            if node.filter is not None and self._quantized_graph(node):
                # the engine's filtered quantized-graph route picks seeded
                # beam vs exact fallback by candidate breadth — a
                # driver-side re-implementation would drift; route filtered
                # requests to the engine
                raise LocalServeUnsupported(
                    f"filtered query on quantized-graph property {node.prop}; "
                    "use Collection.search"
                )
        for key in plan.shape.sort:
            if key.payload or key.root == "payload":
                raise LocalServeUnsupported(
                    f"sort property {key.path} is not a root column; "
                    "schemaless cross-type sort is engine-only"
                )

    def _quantized_graph(self, leaf: VectorLeaf) -> bool:
        """Does the ENGINE serve this leaf through the quantized-graph
        route (codes baked + frozen quantizer resolved)?"""
        graph = self.graph.get(leaf.prop)
        return leaf.kind == "vectorVamana" and graph is not None and (
            graph["thresholds"] is not None or graph["books"] is not None
        )

    # -- compile --------------------------------------------------------------

    def _compile(self, node) -> _LocalCompiled:
        if isinstance(node, Bool):
            return self._compile_bool(
                [self._compile(c) for c in node.children], node.conjunction
            )
        if isinstance(node, VectorLeaf):
            return self._compile_vector(node)
        if isinstance(node, TextLeaf):
            return self._compile_text(node)
        if isinstance(node, IdFilter):
            return _LocalCompiled(pred=self._compile_id(node))
        if isinstance(node, RangeFilter):
            return _LocalCompiled(pred=self._compile_range(node))
        return _LocalCompiled(pred=self._compile_string_array(node))

    # -- leaf filters (F1-F10), each compiled to an exact pandas fn -----------

    def _compile_id(self, node: IdFilter) -> tuple:
        v = node.value
        if node.operator == "equals":
            return (lambda pdf: (pdf[self.id_col] == v).to_numpy(), {self.id_col})
        vals = list(v)
        return (lambda pdf: pdf[self.id_col].isin(vals).to_numpy(), {self.id_col})

    @staticmethod
    def _range_mask(s: pd.Series, op: str, v, end):
        # null values are never in any posting list — notEquals included
        # (inverted.go:183-252); pandas comparisons on None/NaN are False
        # already, but object-dtype string columns need the explicit mask
        notnull = s.notna().to_numpy()
        if op == "equals":
            return (s == v).to_numpy() & notnull
        if op == "notEquals":
            return (s != v).to_numpy() & notnull
        if op == "greaterThan":
            return (s > v).to_numpy() & notnull
        if op == "greaterThanOrEquals":
            return (s >= v).to_numpy() & notnull
        if op == "lessThan":
            return (s < v).to_numpy() & notnull
        if op == "lessThanOrEquals":
            return (s <= v).to_numpy() & notnull
        return ((s >= v) & (s <= end)).to_numpy() & notnull  # inRange

    def _compile_range(self, node: RangeFilter) -> tuple:
        prop, op, v, end = node.prop, node.operator, node.value, node.end_value
        fold = node.fold
        root = prop.split(".", 1)[0]
        if node.kind != "string":
            def fn(pdf):
                return self._range_mask(_leaf_series(pdf, prop), op, v, end)

            return (fn, {root})

        def fn(pdf):
            s = _leaf_series(pdf, prop)
            # equality over a resident root column goes through the
            # factorized codes (int compare, null-safe via the -1
            # sentinel) instead of a 1M-row object-array compare
            if op in ("equals", "notEquals") and "." not in prop:
                cached = self._col_cache.get(root)
                if cached is not None and len(s) == len(cached):
                    ch = self._codes_of(root, fold)
                    if ch is not None:
                        codes, mapping = ch
                        c = mapping.get(v, -2)
                        if op == "equals":
                            return codes == c
                        return (codes != c) & (codes != -1)
            if fold:
                s = self._folded(s, prop)
            if op == "startsWith":
                return s.str.startswith(v).fillna(False).to_numpy()
            return self._range_mask(s, op, v, end)

        return (fn, {root})

    def _compile_string_array(self, node) -> tuple:
        prop, fold, contains_all = node.prop, node.fold, node.contains_all
        want = set(node.values)

        def fn(pdf):
            def one(arr):
                if arr is None or (
                    not isinstance(arr, (list, np.ndarray)) and pd.isna(arr)
                ):
                    return False
                got = {x.lower() for x in arr} if fold else set(arr)
                return want <= got if contains_all else not want.isdisjoint(got)

            return _leaf_series(pdf, prop).map(one).to_numpy(dtype=bool)

        return (fn, {prop.split(".", 1)[0]})

    # -- ranked leaves ---------------------------------------------------------

    def _mask_for_ids(self, ids) -> np.ndarray:
        """Bounded id list -> membership mask over the canonical order."""
        ids_all, index, _ = self._canonical_ids()
        mask = np.zeros(len(ids_all), dtype=bool)
        pos = index.get_indexer(np.asarray(ids, dtype=object))
        mask[pos[pos >= 0]] = True
        return mask

    def _candidate_ids(self, flt) -> np.ndarray | None:
        """R4 pre-filter -> candidate id array (computed BEFORE ranking)."""
        if flt is None:
            return None
        ids_all, _, _ = self._canonical_ids()
        return ids_all[self._mask_of(self._compile(flt))]

    def _vec_matrix(self, prop: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(ids, X float64, row_norms²) for the exact scan, cached per
        snapshot — the local analogue of the engine's one-scan-per-query
        over the parquet (here the decode happens once and every query is
        a GEMM). Row norms are precomputed: building the 200k x d squared
        temp per query was the measured cost of the euclidean leg."""
        hit = self._vec_cache.get(prop)
        if hit is not None:
            return hit
        root = prop.split(".", 1)[0]
        # direct scan, NOT the column cache: the raw list column would sit
        # in _col_cache next to the packed matrix it exists to build
        pdf = self._scan([self.id_col, root])
        vals = _leaf_series(pdf, prop)
        mask = vals.notna().to_numpy()
        ids = pdf[self.id_col].to_numpy(dtype=object)[mask]
        X = np.stack(
            [np.asarray(v, dtype=np.float64) for v in vals.to_numpy()[mask]]
        ) if mask.any() else np.zeros((0, 1))
        self._vec_cache[prop] = (ids, X, (X * X).sum(axis=1))
        return self._vec_cache[prop]

    def _exact_topk(
        self, prop: str, vector, metric: str, limit: int,
        candidates: np.ndarray | None,
    ) -> pd.DataFrame:
        """Exact top-k over the cached matrix — same semantics as the
        compiler's knn route (distance asc, id asc tiebreak), including
        the D8 bit-metric auto-binarize at 0.5
        (shard/vectorstore/vectorstore.go:51-73)."""
        from semadb_spark.functions.distances import numpy_distance_matrix

        ids, X, n2 = self._vec_matrix(prop)
        if candidates is not None:
            # hash-based membership (np.isin argsorts object ids)
            keep = pd.Series(ids).isin(candidates).to_numpy()
            ids, X, n2 = ids[keep], X[keep], n2[keep]
        if len(ids) == 0:
            return _no_hits()
        q = np.asarray(vector, dtype=np.float64)
        if metric in ("hamming", "jaccard"):
            from semadb_spark.operators.quantize import encode_bits_np

            hit = self._d8_cache.get(prop)
            if hit is None or candidates is not None:
                codes = encode_bits_np(X, np.asarray(0.5))
                if candidates is None:
                    self._d8_cache[prop] = (ids, codes)
            else:
                ids, codes = hit
            qc = encode_bits_np(q[None, :], np.asarray(0.5))
            d = numpy_distance_matrix(metric, codes, qc)[:, 0].astype(np.float64)
        else:
            d = _dists(X, n2, q, metric)
        return self._take_topk(ids, d, limit)

    @staticmethod
    def _take_topk(ids: np.ndarray, d: np.ndarray, limit: int) -> pd.DataFrame:
        """(distance asc, id asc) top-k over precomputed distances — the
        shared tail of the exact and IVF routes. Top-k selection before
        the sort: partition to the distance threshold, keep boundary ties
        so the order and truncation match a full sort exactly."""
        k = int(limit)
        if len(d) > 4 * k:
            thr = d[np.argpartition(d, k - 1)[:k]].max()
            sel = d <= thr
            ids, d = ids[sel], d[sel]
        out = pd.DataFrame({RID: ids, "_distance": d})
        return (
            out.sort_values(["_distance", RID], kind="stable")
            .head(k)
            .reset_index(drop=True)
        )

    def _qscan_state(self, prop: str) -> tuple:
        """(ids, codes int64 matrix) resident rows of the persisted
        quantized-code artifact — what the ENGINE's flat code scan ranks
        (quantized_topk over q_index.codes), loaded once per snapshot."""
        hit = self._qscan_cache.get(prop)
        if hit is None:
            import pyarrow.dataset as pads

            meta = self.qscan[prop]["meta"]
            dset = pads.dataset(self.qscan[prop]["path"], format="parquet")
            pdf = dset.to_table(
                columns=[self.id_col, meta["code_col"]]
            ).to_pandas()
            pdf = pdf[pdf[meta["code_col"]].notna()]
            ids = pdf[self.id_col].to_numpy(dtype=object)
            codes = np.stack(
                [np.asarray(c, dtype=np.int64)
                 for c in pdf[meta["code_col"]]]
            ) if len(pdf) else np.zeros((0, 1), dtype=np.int64)
            hit = (ids, codes)
            self._qscan_cache[prop] = hit
        return hit

    def _qscan_topk(self, prop: str, vector, limit: int,
                    candidates: np.ndarray | None) -> pd.DataFrame:
        """The compiler's flat quantized code-scan route in-process: binary
        encodes the query with the frozen thresholds and ranks by the
        declared bit metric; product ranks by the ADC table — identical
        math to bq_distance_expr / pq_adc_distance_expr, same
        (distance, id) ordering. A pre-filter restricts the scanned codes
        (the engine semi-joins q_index.codes the same way; the code-scan
        branch has NO exact fallback, filtered or not)."""
        from semadb_spark.functions.distances import numpy_distance_matrix

        meta = self.qscan[prop]["meta"]
        ids, codes = self._qscan_state(prop)
        if candidates is not None:
            m = pd.Series(ids).isin(candidates).to_numpy()
            ids, codes = ids[m], codes[m]
        if len(ids) == 0:
            return _no_hits()
        if meta["kind"] == "binary":
            from semadb_spark.operators.quantize import encode_bits_np

            thr = np.asarray(meta["thresholds"], dtype=np.float64)
            qc = encode_bits_np(
                np.asarray(vector, dtype=np.float64)[None, :], thr
            )
            d = numpy_distance_matrix(meta["metric"], codes, qc)[:, 0].astype(
                np.float64
            )
        else:
            from semadb_spark.operators.quantize import (
                PQCodebooks,
                pq_adc_table,
            )

            books = PQCodebooks(
                centroids=np.asarray(meta["centroids"], dtype=np.float64),
                metric=meta["pq_metric"],
            )
            table = pq_adc_table(books, vector)  # (m, k) float64
            d = np.zeros(len(codes), dtype=np.float64)
            for i in range(table.shape[0]):
                # sequential accumulation i=0..m-1 mirrors the engine's
                # aggregate() left fold bit-for-bit
                d += table[i, codes[:, i]]
        return self._take_topk(ids, d, limit)

    def _ivf_state(self, prop: str) -> tuple:
        """(ids, X float64, row_norms², centroid_id) resident rows of the
        persisted IVF artifact — what the ENGINE probes and reranks
        (ivf_search runs over index.assigned, not the base table), loaded
        once per snapshot like the exact route's `_vec_matrix`."""
        hit = self._ivf_cache.get(prop)
        if hit is None:
            import pyarrow.dataset as pads

            dset = pads.dataset(
                self.ivf[prop]["path"], format="parquet", partitioning="hive"
            )
            pdf = dset.to_table(
                columns=[self.id_col, "v", "centroid_id"]
            ).to_pandas()
            ids = pdf[self.id_col].to_numpy(dtype=object)
            X = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            ) if len(pdf) else np.zeros((0, 1))
            cent = pdf["centroid_id"].to_numpy(dtype=np.int64)
            # inverted-list layout: rows SORTED by centroid_id, so a probe
            # gathers nprobe CONTIGUOUS slices (searchsorted + BLAS on
            # views) instead of masking the whole matrix — the per-query
            # cost drops from O(corpus) to O(probed rows). Result-set
            # parity is free: _take_topk orders by (distance, id), so
            # candidate order never matters.
            order = np.argsort(cent, kind="stable")
            ids, X, cent = ids[order], np.ascontiguousarray(X[order]), cent[order]
            hit = (ids, X, (X * X).sum(axis=1), cent)
            self._ivf_cache[prop] = hit
        return hit

    def _ivf_topk(self, leaf: VectorLeaf,
                  candidates: np.ndarray | None) -> pd.DataFrame:
        """The compiler's float IVF probe route served in-process: same
        centroid shortlist math (argsort of the metric's centroid
        distances, nprobe = search_size // 8), same exact float64 rerank
        inside the probed cells, same (distance, id) ordering — engine
        parity, including the bounded filtered-exact fallback
        (FILTERED_EXACT_FALLBACK_ROWS) on small candidate sets."""
        from semadb_spark.functions.distances import numpy_distance_matrix

        prop, vector, metric, limit = leaf.prop, leaf.vector, leaf.metric, leaf.limit
        if candidates is not None:
            if len(candidates) <= logical.FILTERED_EXACT_FALLBACK_ROWS:
                # engine takes the exact scan over the filtered base here
                return self._exact_topk(prop, vector, metric, limit, candidates)
            if prop in self._graph_artifacts:
                # broad filtered sets ride the engine's seeded-beam graph
                # walk (compiler.py filtered-ANN branch) — candidate-
                # breadth routing over the distributed subgraphs is
                # engine-only, same policy as the quantized-graph tier
                raise LocalServeUnsupported(
                    f"broad filtered query on graph+IVF property {prop}; "
                    "use Collection.search"
                )
        search_size = int(leaf.search_size or 75)
        ids, X, n2, cent = self._ivf_state(prop)
        centroids = self.ivf[prop]["centroids"]
        nprobe = max(1, min(len(centroids), search_size // 8))
        q = np.asarray(vector, dtype=np.float64)
        cdist = numpy_distance_matrix(metric, centroids, q[None, :])[:, 0]
        probed = np.argsort(cdist)[:nprobe]
        # rows are centroid-sorted (_ivf_state): each probed cell is one
        # contiguous slice — distances run as BLAS on views, and only the
        # probed cells' ids/distances are ever materialized (the r12 path
        # masked the FULL matrix per query: O(corpus) isin + a big fancy-
        # index copy, 73% of the measured 13.7 ms point-read)
        los = np.searchsorted(cent, probed, side="left")
        his = np.searchsorted(cent, probed, side="right")
        id_parts: list = []
        d_parts: list = []
        for lo, hi in zip(los, his):
            if lo == hi:
                continue
            id_parts.append(ids[lo:hi])
            d_parts.append(_dists(X[lo:hi], n2[lo:hi], q, metric))
        if not id_parts:
            return _no_hits()
        ids = np.concatenate(id_parts)
        d = np.concatenate(d_parts)
        if candidates is not None:
            m = pd.Series(ids).isin(candidates).to_numpy()
            ids, d = ids[m], d[m]
        if len(ids) == 0:
            return _no_hits()
        return self._take_topk(ids, d, limit)

    def _compile_vector(self, leaf: VectorLeaf) -> _LocalCompiled:
        prop, key, metric = leaf.prop, leaf.kind, leaf.metric
        vector, limit = leaf.vector, leaf.limit
        candidates = self._candidate_ids(leaf.filter)
        graph = self.graph.get(prop)
        quantized = self._quantized_graph(leaf)
        if quantized or (
            self.vector_mode == "graph"
            and key == "vectorVamana"
            and graph is not None
            and candidates is None
            and metric not in ("hamming", "jaccard")
        ):
            # The packed-artifact beam (vamana_serve_local is parity-pinned
            # to vamana_serve_packed). On a quantized graph this IS the
            # engine route (unfiltered: _check_servable refuses filtered
            # legs): the same quantized ADC beam + exact float rerank with
            # identical params. Otherwise it is the opt-in approximate route
            # (search.go:9-102 semantics), which diverges from the engine's
            # exact route by design — recall < 1 — hence opt-in, and takes
            # the graph_nprobe serving knob.
            from semadb_spark.operators.vamana import vamana_serve_local

            search_size = int(leaf.search_size or graph["search_size"])
            nprobe = max(1, min(len(graph["centroids"]), search_size // 8))
            hits = vamana_serve_local(
                graph["packed"], vector, limit,
                metric=metric,
                search_size=search_size,
                centroids=graph["centroids"],
                nprobe=nprobe if quantized else (self.graph_nprobe or nprobe),
                dtype=graph["pack_dtype"],
                compute_dtype="float32",
                n_seeds=32,
                thresholds=graph["thresholds"],
                books=graph["books"],
            )
            topk = pd.DataFrame(
                {
                    RID: [i for i, _ in hits],
                    "_distance": [float(dd) for _, dd in hits],
                }
            )
        elif prop in self.qscan and self.schema[prop].quantizer is not None:
            # ENGINE parity: a schema-declared quantizer with persisted
            # codes (and no fused IVF artifact) serves EVERY query on the
            # property through the flat code scan (compiler's q_index
            # branch — binary bit metric / product ADC, filtered or not)
            topk = self._qscan_topk(prop, vector, limit, candidates)
        elif (
            key == "vectorVamana"
            and prop in self.ivf
            and metric not in ("hamming", "jaccard")
        ):
            # ENGINE parity: with an IVF artifact present the compiler's
            # unfiltered vectorVamana route is ivf_search over the
            # artifact — NOT exact — so 'auto' must probe too
            topk = self._ivf_topk(leaf, candidates)
        else:
            topk = self._exact_topk(prop, vector, metric, limit, candidates)
        ranked = topk.assign(
            _score=np.nan,
            _hybridScore=-1.0 * leaf.weight * topk["_distance"].to_numpy(),
        )
        return _LocalCompiled(mask=self._mask_for_ids(ranked[RID]), ranked=ranked)

    def _compile_text(self, leaf: TextLeaf) -> _LocalCompiled:
        from semadb_spark.operators.text_search import text_serve_local

        path, num_docs = self.text[leaf.prop]
        scored = text_serve_local(
            path, leaf.value, leaf.operator, limit=leaf.limit,
            weight=leaf.weight, num_docs=num_docs,
            candidate_ids=self._candidate_ids(leaf.filter),
        )
        ranked = scored.rename(columns={"id": RID}).assign(_distance=np.nan)[
            [RID, "_distance", "_score", "_hybridScore"]
        ]
        return _LocalCompiled(mask=self._mask_for_ids(ranked[RID]), ranked=ranked)

    # -- boolean composition (B1-B3) -------------------------------------------

    def _mask_of(self, c: _LocalCompiled) -> np.ndarray:
        if not c.is_pure:
            return c.mask
        fn, cols = c.pred
        # resident columns are the serving hot path; the pandas fn is the
        # predicate authority
        pdf = self._col_frame(cols)
        if len(pdf) == 0:
            return np.zeros(0, dtype=bool)
        return np.asarray(fn(pdf), dtype=bool)

    def _compile_bool(
        self, children: list[_LocalCompiled], conjunction: bool
    ) -> _LocalCompiled:
        if all(c.is_pure for c in children):
            fns, colsets = zip(*[c.pred for c in children])
            cols = set().union(*colsets)
            if conjunction:

                def fn(pdf, fns=fns):
                    m = fns[0](pdf)
                    for f in fns[1:]:
                        m = m & f(pdf)
                    return m
            else:

                def fn(pdf, fns=fns):
                    m = fns[0](pdf)
                    for f in fns[1:]:
                        m = m | f(pdf)
                    return m

            return _LocalCompiled(pred=(fn, cols))

        # mixed/ranked: materialize membership masks and combine bitwise
        # (shard/index/search.go:248-252 materializes id bitmaps the same
        # way; python id SETS re-hash every string per op — measured slow)
        masks = [self._mask_of(c) for c in children]
        final = masks[0].copy()
        for m in masks[1:]:
            if conjunction:
                final &= m
            else:
                final |= m

        ranked_frames = [
            c.ranked.assign(_src=i)
            for i, c in enumerate(children)
            if c.ranked is not None
        ]
        merged = None
        if ranked_frames:
            u = pd.concat(ranked_frames, ignore_index=True)
            # duplicate ids: sum hybrid scores; first (lowest child index)
            # non-null distance/score wins (search.go:255-289)
            u = u.sort_values("_src", kind="stable")
            hybrid = u.groupby(RID, sort=False)["_hybridScore"].sum()
            dist = (
                u.dropna(subset=["_distance"])
                .groupby(RID, sort=False)["_distance"]
                .first()
            )
            score = (
                u.dropna(subset=["_score"])
                .groupby(RID, sort=False)["_score"]
                .first()
            )
            merged = pd.DataFrame({RID: hybrid.index.to_numpy(dtype=object)})
            merged["_distance"] = dist.reindex(hybrid.index).to_numpy()
            merged["_score"] = score.reindex(hybrid.index).to_numpy()
            merged["_hybridScore"] = hybrid.to_numpy()
            if conjunction:
                # _and drops ranked rows outside the intersection
                _, index, _ = self._canonical_ids()
                pos = index.get_indexer(merged[RID].to_numpy(dtype=object))
                keep = (pos >= 0) & final[np.maximum(pos, 0)]
                merged = merged[keep].reset_index(drop=True)
        return _LocalCompiled(mask=final, ranked=merged)

    # -- assembly + shaping (P1-P3, B4) ----------------------------------------

    def _assemble_and_shape(
        self, compiled: _LocalCompiled, shape: Shape
    ) -> pd.DataFrame:
        # 1) membership mask + ranked frame (ordered hybrid-desc/id-asc)
        ids_all, index, id_order = self._canonical_ids()
        if compiled.is_pure:
            mask = self._mask_of(compiled)
            ranked = None
        else:
            mask, ranked = compiled.mask, compiled.ranked
        if ranked is not None and len(ranked):
            ranked = ranked.sort_values(
                ["_hybridScore", RID], ascending=[False, True], kind="stable"
            ).reset_index(drop=True)
            leftover_mask = mask & ~self._mask_for_ids(ranked[RID])
        else:
            ranked = None
            leftover_mask = mask

        offset, limit = shape.offset, shape.limit
        if not shape.sort:
            # default order = ranked rows (already sorted), then filter-only
            # rows id-asc; paging is a GATHER through the precomputed
            # id-sorted permutation — no per-query sort of the filter set
            # (the local analogue of TakeOrderedAndProject's bounded trim)
            need = None if limit is None else offset + limit
            ids_sorted = self._canon[3]
            sel = np.flatnonzero(leftover_mask[id_order])
            n_ranked = 0 if ranked is None else len(ranked)
            if need is not None:
                sel = sel[: max(0, need - min(n_ranked, need))]
            lo_sorted = ids_sorted[sel]
            leftover = pd.DataFrame({RID: lo_sorted})
            leftover["_distance"] = np.nan
            leftover["_score"] = np.nan
            leftover["_hybridScore"] = 0.0
            parts = [ranked, leftover] if ranked is not None else [leftover]
            ordered = pd.concat(parts, ignore_index=True)
            if limit is not None:
                ordered = ordered.iloc[offset : offset + limit]
            elif offset:
                ordered = ordered.iloc[offset:]
        else:
            # user sort keys take precedence with missing-last
            # (utils/compare.go:56-89); sort values come from the resident
            # column cache by POSITION (no rescans). The full candidate
            # set sorts here — the same work the engine's distributed sort
            # does for a user-ordered result.
            lo_pos = np.flatnonzero(leftover_mask)
            skel_frames = []
            if ranked is not None:
                r = ranked.copy()
                r["_rankedFirst"] = 0
                r["__pos"] = index.get_indexer(r[RID].to_numpy(dtype=object))
                skel_frames.append(r)
            lo = pd.DataFrame({RID: ids_all[lo_pos]})
            lo["_distance"] = np.nan
            lo["_score"] = np.nan
            lo["_hybridScore"] = 0.0
            lo["_rankedFirst"] = 1
            lo["__pos"] = lo_pos
            skel_frames.append(lo)
            key = pd.concat(skel_frames, ignore_index=True)
            by, asc = [], []
            for sk in shape.sort:
                root = sk.root
                if root in RANKED_COLS:
                    sv = key[root]
                else:
                    self._col_frame([root])  # ensure residency
                    col = self._col_cache[root]
                    pos = key["__pos"].to_numpy()
                    sv = pd.Series(
                        col.to_numpy()[np.maximum(pos, 0)], index=key.index
                    ).where(pos >= 0)
                    if "." in sk.path:
                        sv = _leaf_series(pd.DataFrame({root: sv}), sk.path)
                kn, mn = f"__k_{sk.path}", f"__m_{sk.path}"
                key[kn] = sv
                # nulls last regardless of direction: explicit missing rank
                # first (pandas na_position is global, the engine's per-key)
                key[mn] = sv.isna().astype(int)
                by.extend([mn, kn])
                asc.extend([True, not sk.descending])
            by.extend(["_rankedFirst", "_hybridScore", RID])
            asc.extend([True, False, True])
            ordered = key.sort_values(by, ascending=asc, kind="stable")[
                [RID, "_distance", "_score", "_hybridScore"]
            ]
            if limit is not None:
                ordered = ordered.iloc[offset : offset + limit]
            elif offset:
                ordered = ordered.iloc[offset:]
        ordered = ordered.reset_index(drop=True)

        # 4) backfill point data for the final page only. The join key is
        # the reserved RID helper, so a user property legally named "id"
        # (or anything else in the frame) can never be shadowed by
        # engine-internal values in the output.
        rows = self._rows_for_ids(ordered[RID].to_numpy(dtype=object))
        out = ordered.merge(
            rows, left_on=RID, right_on=self.id_col, how="left",
        )
        # engine column order: point columns, then ranked cols (RID dropped)
        cols = [c for c in self._frame_fields] + list(RANKED_COLS)
        out = out[[c for c in cols if c in out.columns]]

        # 5) select + dotted re-nest (shard.go:431-448)
        sel = shape.select
        if sel is not None:
            final = out[[c for c in sel.columns if c in out.columns]].copy()
            for root, fields in sel.nested:
                def nest(row_val, fields=fields):
                    ok = isinstance(row_val, dict)
                    return {f: row_val.get(f) if ok else None for f in fields}

                final[root] = out[root].map(nest)
            for c in RANKED_COLS:
                final[c] = out[c]
            out = final
        return out


# -- process-parallel hybrid serving pool (r10) -------------------------------

_HPOOL_ENGINE: "LocalSearchEngine | None" = None


def _hpool_init(collection_path: str, version: int, vector_mode: str,
                warm_requests, graph_nprobe=None, preload: bool = False,
                shared_graphs=None) -> None:
    """Worker initializer: open the collection WITHOUT a SparkSession
    (Collection.open_local), build this worker's LocalSearchEngine at the
    pool's ``version`` (resolved once by the parent: workers start on
    demand, and each must serve the snapshot the pool opened on, not the
    one current at its first task), and optionally pre-run warm requests
    so the resident caches (columns, vector matrix, posting row-group
    index) are hot before real traffic.
    ``shared_graphs`` (list of ``(artifact_path, shm_name, manifest)``)
    attaches this worker's packed-graph serve cache to the pool parent's
    ONE shared-memory decode — zero-copy, no per-worker ramp, no per-worker
    resident copy. ``preload`` is the fallback when the parent's export
    failed: this worker decodes ALL graph-artifact cents privately
    (:meth:`LocalSearchEngine.preload_graph_artifacts`); without either, a
    worker ramps to steady state as queries lazily fault cents in."""
    global _HPOOL_ENGINE
    from semadb_spark.collection import Collection

    for art_path, shm_name, manifest in shared_graphs or []:
        try:
            from semadb_spark.operators.vamana import attach_packed_shared

            attach_packed_shared(art_path, shm_name, manifest)
        except Exception:
            pass  # optimization, never a brick: worker falls back to lazy
    coll = Collection.open_local(collection_path)
    _HPOOL_ENGINE = LocalSearchEngine(coll, vector_mode=vector_mode,
                                      graph_nprobe=graph_nprobe,
                                      version=version)
    if preload:
        try:
            _HPOOL_ENGINE.preload_graph_artifacts()
        except Exception:
            pass  # same contract as warms: an optimization, never a brick
    for r in warm_requests or []:
        # warms are an optimization, never a correctness requirement: one
        # bad warm request (e.g. LocalServeUnsupported) must not brick
        # every worker's init as an opaque BrokenProcessPool later
        try:
            _HPOOL_ENGINE.search(r)
        except Exception:
            pass


def _hpool_serve(requests: list[dict]):
    return [_HPOOL_ENGINE.search(r) for r in requests]


class HybridServePool(ServePool):
    """Process-parallel hybrid query serving over one Collection snapshot —
    the pool tier of :meth:`Collection.search_local`, completing the
    serving ladder (driver-local -> worker pool) for the COMPOSED query
    tree the way TextServePool / VectorServePool complete it per modality.
    The reference's deployment is exactly this: N request goroutines each
    running the full filter -> rank -> merge -> shape lifecycle over
    shared shard state (shard/shard.go:329-472).

    Each worker opens the collection filesystem-only (no JVM,
    Collection.open_local) and holds its own resident state: filter
    columns, vector matrix + norms, posting row-group index. That is
    whole-snapshot-resident per worker — the right trade for a serving
    node (the reference's shard cache holds the decoded shard the same
    way); size workers to snapshot-bytes x workers. With no per-partition
    cache affinity to exploit, the pool runs the
    :class:`~semadb_spark.operators._pool.ServePool` core with one shared
    executor, so the shortest queue wins. The pool resolves the current
    snapshot version once, at open, and every worker serves exactly that
    snapshot whenever it starts: reopen the pool to serve a later commit
    (DML, build or refresh), like the other pools reopen on a new artifact.
    Results are identical to search_local at that snapshot (same engine
    class; parity-tested).

    Usage::

        with HybridServePool(coll.path, workers=8,
                             warm_requests=reqs[:4]) as pool:
            rows = pool.search(request)
            all_rows = pool.search_many(requests)
    """

    def __init__(self, collection_path: str, workers: int = 8,
                 vector_mode: str = "auto", warm_requests=None,
                 graph_nprobe: int | None = None,
                 preload: bool = False):
        if not os.path.exists(os.path.join(collection_path, "_schema.json")):
            raise ValueError(f"no collection at {collection_path}")
        # checked before the shm export, which a bad value would leak
        if int(workers) < 1:
            raise ValueError("HybridServePool requires workers >= 1")
        from semadb_spark.collection import Collection

        coll = Collection.open_local(collection_path)
        self.version = coll._current_version()
        # preload=True: the PARENT decodes each packed graph artifact once
        # into POSIX shared memory and every worker attaches zero-copy
        # views — one resident artifact copy for the whole pool, the
        # reference's single shared shard cache (cache/manager.go:39-303).
        # If the export fails, each worker decodes a private copy instead;
        # an artifact wider than the serve-cache cap stays lazy.
        self._shm_names: list[str] = []
        shared_graphs: list = []
        if preload:
            try:
                shared_graphs = self._export_shared_graphs(
                    LocalSearchEngine(coll, vector_mode=vector_mode,
                                      graph_nprobe=graph_nprobe,
                                      version=self.version)
                )
                self._shm_names = [s[1] for s in shared_graphs]
            except Exception:
                shared_graphs = []
        super().__init__(
            workers, _hpool_init,
            (collection_path, self.version, vector_mode,
             list(warm_requests or []), graph_nprobe,
             bool(preload) and not shared_graphs, shared_graphs),
            _hpool_serve,
        )

    @staticmethod
    def _export_shared_graphs(probe: "LocalSearchEngine"):
        """Parent-side: decode every packed artifact ``probe`` (an engine
        at the pool's version) serves from, once, into shared memory;
        returns ``[(artifact_path, shm_name, manifest)]`` for the worker
        initializer to attach. Artifacts wider than the serve-cache
        capacity export as None and are skipped (workers keep the lazy
        working-set behavior for those)."""
        from semadb_spark.operators.vamana import export_packed_shared

        out = []
        for g in probe.graph.values():
            exp = export_packed_shared(
                g["packed"], dtype=g["pack_dtype"], compute_dtype="float32"
            )
            if exp is not None:
                out.append((g["packed"], exp[0], exp[1]))
        return out

    def search(self, request: dict):
        """One request -> pandas DataFrame (search_local's output shape)."""
        return self._one(request)

    def search_many(self, requests: list[dict]):
        """Batch -> results in input order, fanned across all workers."""
        return self._many(requests)

    def _release(self) -> None:
        from semadb_spark.operators.vamana import release_packed_shared

        for name in self._shm_names:
            try:
                release_packed_shared(name)
            except Exception:
                pass
        self._shm_names = []
