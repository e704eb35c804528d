"""Collection: parquet-backed point store with SemaDB write-path semantics.

Parity targets (reference, Go):
- W1 InsertPoints   shard/shard.go:133-227 — batch insert; duplicate ids
  rejected both within the batch and against stored points ("point already
  exists"); all-or-nothing.
- W2 UpdatePoints   shard/shard.go:231-325 — **merge** semantics: incoming
  point map merged key-wise into the existing map (merge loop at
  shard/shard.go:275-281); the string value ``"_delete"``
  (shard/shard.go:41) drops the key; points that don't exist are silently
  skipped and not reported in the returned updated-id list.
- W3 DeletePoints   shard/shard.go:476-550 — delete by id set; missing ids
  are no-ops; returns the ids actually deleted.

Storage model (Spark-first, not a bbolt translation):
- A collection is a directory holding ``_schema.json`` (the IndexSchema) and
  immutable snapshot dirs ``v0/ v1/ ...``; ``_current`` names the live one.
  Every DML op writes a NEW snapshot then atomically swaps the pointer —
  copy-on-write exactly like Delta/Iceberg, giving all-or-nothing semantics
  (the reference gets the same from one bbolt write transaction,
  shard/shard.go:148-150) plus readers-never-block-writers.
- **Hash-bucketed layout + manifest**: rows land in
  ``vN/_bucket=pmod(xxhash64(_id), num_buckets)`` dirs, and each snapshot's
  ``_manifest.json`` maps bucket -> the snapshot dir that last rewrote it.
  A DML batch reads and rewrites every bucket its ids hash to, whole: k
  changed points touch up to min(k, num_buckets) buckets, so a batch
  rewrites that share of the table, and a batch of num_buckets or more
  random ids usually rewrites all of it (50 rows over 8 buckets rewrite 8
  of 8). Small batches against many buckets are the case this layout
  saves (round-1 finding: full-snapshot rewrite is a 100 TB killer for the
  reference's own <=100-point batches). Unaffected buckets are carried
  forward by manifest pointer, the same trick as Delta/Iceberg file
  manifests. The bucket count is fixed at create (like the reference's
  shard fill policy, cluster/placement.go:9-52); ``maxRecordsPerFile`` caps
  file size within a bucket.
- Rows: ``_id string`` + one typed column per indexed property (+ arbitrary
  payload columns; an optional ``payload map<string,string>`` gets key-wise
  merge like the reference's PointAsMap).
- The duplicate-insert probe and the update/delete joins read only affected
  buckets and broadcast the small change batch — the common case is a
  broadcast join over a pruned fraction of the table.
- **Artifact map**: the manifest also names every index artifact (text
  postings, IVF, quantized codes, Vamana graph + packed layout), e.g.
  ``"artifacts": {"text_body": {"path": "v7_idx/text_body", "data": 6}}``.
  A build or refresh writes into a directory under the NEXT version, which
  no manifest names yet, then commits a new snapshot naming it: two small
  files and the ``_current`` swap, no Spark job, buckets and the other
  artifacts carried by pointer. No artifact directory is ever rewritten, so
  a crashed build leaves only an unnamed directory that ``vacuum`` drops.
- **Liveness**: ``"data"`` is the version whose DML wrote the snapshot's
  rows (a build commit carries it forward); each artifact entry records the
  ``data`` it indexes and serves only a snapshot with exactly that data.
  DML carries the entries forward as "last built", so search falls back to
  the engine's ad-hoc scoring / exact scan until a refresh rolls the
  last-built artifact forward.
- **One pin per reader**: a reader reads ``_current`` once and resolves the
  data files and every artifact from that one manifest (the Spark engine,
  :class:`~semadb_spark.plans.local_engine.LocalSearchEngine`, a serving
  pool's workers). A path never changes under it, so every serving cache
  keys on the path alone, and a commit during an open cannot mix versions.

Column-vs-map note: the reference merges a msgpack map at depth 1
(shard/shard.go:275-281). Here each top-level key is a column, so the merge
is per-column: a NULL in the updates frame means "key absent — keep old
value"; the sentinel ``"_delete"`` (string/text columns), a single-element
``["_delete"]`` (stringArray), or listing the column in ``_unset
array<string>`` (typed columns, which can't hold the string sentinel) drops
the value. The optional ``payload`` map column merges key-wise with the
string sentinel, byte-for-byte the reference loop.
"""

from __future__ import annotations

import json
import os
import uuid as _uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from .schema import IndexSchema
from .session import local_df

DELETE_VALUE = "_delete"  # shard/shard.go:41
_CURRENT = "_current"
_SCHEMA_FILE = "_schema.json"
_META_FILE = "_meta.json"
_MANIFEST_FILE = "_manifest.json"
DEFAULT_NUM_BUCKETS = 16
# posting artifact columns; term_bucket is the partition directory
_POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("doc_len", T.IntegerType()),
        T.StructField("df", T.LongType()),
        T.StructField("term_bucket", T.IntegerType()),
    ]
)


class DuplicatePointError(ValueError):
    pass


def _quantizer_fingerprint(qmeta: dict) -> str:
    """Digest of the fit parameters that determine what a baked code MEANS
    (thresholds for BQ, codebooks+metric for PQ). Stored in _graph.json
    when codes are baked into a packed graph and re-checked at serve time:
    the serve path resolves the frozen quantizer meta of the last-built
    codes, and if that ever differed from the fit the codes were baked
    with (e.g. a refit after the graph was built), ADC distances would
    silently degrade rather than error (ADVICE r8)."""
    import hashlib

    import numpy as np

    h = hashlib.sha256()
    h.update(str(qmeta.get("kind")).encode())
    if qmeta.get("kind") == "binary":
        h.update(np.asarray(qmeta["thresholds"], dtype=np.float64).tobytes())
    else:
        h.update(np.asarray(qmeta["centroids"], dtype=np.float64).tobytes())
        h.update(str(qmeta.get("pq_metric")).encode())
    return h.hexdigest()[:16]


def _tag(kind: str, prop: str) -> str:
    """Artifact-map key and directory name of ``kind``'s index on ``prop``."""
    return f"{kind}_{prop.replace('.', '_')}"


def _dirty_buckets(old: dict[str, str], new: dict[str, str]) -> list[int]:
    """Data buckets whose pointer differs between two bucket manifests."""
    return sorted(int(b) for b in set(old) | set(new) if old.get(b) != new.get(b))


def _merge_column(
    old: Column, upd: Column, dtype: T.DataType, unset: Column | None
) -> Column:
    """One column of the W2 merge (shard/shard.go:275-281).

    NULL update = key absent = keep; sentinel = drop; else overwrite.
    """
    if isinstance(dtype, T.StringType):
        is_delete = upd == DELETE_VALUE
    elif isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StringType):
        is_delete = (F.size(upd) == 1) & (upd[0] == DELETE_VALUE)
    else:
        is_delete = F.lit(False)
    if unset is not None:
        merged = F.when(is_delete | unset, F.lit(None).cast(dtype))
    else:
        merged = F.when(is_delete, F.lit(None).cast(dtype))
    return merged.when(upd.isNotNull(), upd).otherwise(old)


def _merge_payload(old: Column, upd: Column) -> Column:
    """Key-wise map merge with the ``"_delete"`` sentinel — the literal
    reference loop (shard/shard.go:275-281) over map<string,string>."""
    old = F.coalesce(old, F.create_map())
    upd = F.coalesce(upd, F.create_map())
    keep_old = F.map_filter(old, lambda k, _: ~F.map_contains_key(upd, k))
    merged = F.map_concat(keep_old, upd)
    return F.map_filter(merged, lambda _, v: v != DELETE_VALUE)


def apply_update_merge(
    existing: DataFrame, updates: DataFrame, id_col: str = "_id"
) -> DataFrame:
    """Pure-DataFrame W2 merge: returns `existing` with `updates` merged in.

    Rows of `updates` whose id has no match are dropped (update of a missing
    point is a no-op, shard/shard.go:252-256). Column set of the result ==
    column set of `existing`; update columns must be a subset. Broadcast-safe:
    Spark will broadcast `updates` when small (the typical DML batch), so the
    merge is a map-side join over the full table — no table shuffle.
    """
    upd_cols = [c for c in updates.columns if c != id_col and c != "_unset"]
    unknown = set(upd_cols) - set(existing.columns)
    if unknown:
        raise ValueError(f"update columns not in collection: {sorted(unknown)}")
    has_unset = "_unset" in updates.columns
    dtypes = dict(zip(existing.schema.names, [f.dataType for f in existing.schema.fields]))

    u = updates.select(
        F.col(id_col).alias("__uid"),
        *[F.col(c).alias(f"__u_{c}") for c in upd_cols],
        *([F.col("_unset").alias("__unset")] if has_unset else []),
    )
    joined = existing.join(u, existing[id_col] == F.col("__uid"), "left")
    out_cols: list[Column] = []
    for c in existing.columns:
        if c == id_col:
            out_cols.append(existing[c].alias(c))
            continue
        if c not in upd_cols:
            if has_unset:
                # _unset may name columns absent from the update frame.
                dropped = F.col("__uid").isNotNull() & F.coalesce(
                    F.array_contains(F.col("__unset"), c), F.lit(False)
                )
                out_cols.append(
                    F.when(dropped, F.lit(None).cast(dtypes[c]))
                    .otherwise(existing[c])
                    .alias(c)
                )
            else:
                out_cols.append(existing[c].alias(c))
            continue
        upd_c = F.col(f"__u_{c}")
        unset_c = (
            F.coalesce(F.array_contains(F.col("__unset"), c), F.lit(False))
            if has_unset
            else None
        )
        if c == "payload" and isinstance(dtypes[c], T.MapType):
            merged = F.when(F.col("__uid").isNull(), existing[c]).otherwise(
                _merge_payload(existing[c], upd_c)
            )
        else:
            merged = F.when(F.col("__uid").isNull(), existing[c]).otherwise(
                _merge_column(existing[c], upd_c, dtypes[c], unset_c)
            )
        out_cols.append(merged.alias(c))
    return joined.select(*out_cols)


class Collection:
    """A named point container = schema + snapshot-versioned parquet table.

    Mirrors models/collection.go:3-13 (collection = id + index schema +
    shards); shards are Spark's problem here (files/partitions).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # version-keyed serving-engine caches (shard/cache/manager.go analogue)
        self._engine_cache: tuple[int, object] | None = None
        self._local_engine_cache: tuple[tuple, object] | None = None
        with open(os.path.join(path, _SCHEMA_FILE)) as f:
            self.schema = IndexSchema.from_json(f.read())
        meta_path = os.path.join(path, _META_FILE)
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                self.num_buckets = int(json.load(f)["num_buckets"])
        else:
            self.num_buckets = DEFAULT_NUM_BUCKETS

    # -- lifecycle ----------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        index_schema: dict | str | IndexSchema,
        num_buckets: int = DEFAULT_NUM_BUCKETS,
    ) -> "Collection":
        schema = (
            index_schema
            if isinstance(index_schema, IndexSchema)
            else IndexSchema.from_json(index_schema)
        )
        os.makedirs(path, exist_ok=True)
        if os.path.exists(os.path.join(path, _SCHEMA_FILE)):
            raise ValueError(f"collection already exists at {path}")
        with open(os.path.join(path, _SCHEMA_FILE), "w") as f:
            f.write(schema.to_json())
        with open(os.path.join(path, _META_FILE), "w") as f:
            json.dump({"num_buckets": int(num_buckets)}, f)
        empty = spark.createDataFrame([], schema.struct_type())
        coll = cls(spark, path)
        coll._write_snapshot(empty)
        return coll

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Collection":
        if not os.path.exists(os.path.join(path, _SCHEMA_FILE)):
            raise ValueError(f"no collection at {path}")
        return cls(spark, path)

    @classmethod
    def open_local(cls, path: str) -> "Collection":
        """Open for DRIVER-LOCAL serving only — no SparkSession. The
        point-read surfaces (:meth:`search_local`,
        :meth:`vamana_search_local`, the serving pools) read snapshot
        manifests and index artifacts straight off the filesystem; a
        serving worker process therefore never starts a JVM (the
        reference's serving node opens its shard files the same way,
        shard/shard.go:57-96). Anything that compiles Spark plans
        (:meth:`search`, DML, index builds) raises."""
        if not os.path.exists(os.path.join(path, _SCHEMA_FILE)):
            raise ValueError(f"no collection at {path}")
        return cls(None, path)

    # -- snapshot bookkeeping ----------------------------------------------
    def _current_version(self) -> int:
        p = os.path.join(self.path, _CURRENT)
        if not os.path.exists(p):
            return -1
        with open(p) as f:
            return int(f.read().strip())

    def _data_path(self, version: int | None = None) -> str:
        v = self._current_version() if version is None else version
        return os.path.join(self.path, f"v{v}")

    def _bucket_expr(self, c: Column) -> Column:
        return F.pmod(F.xxhash64(c), F.lit(self.num_buckets))

    def _buckets_of(self, ids_df: DataFrame) -> list[int]:
        """Distinct bucket ids a (small) id frame hashes to — one tiny job
        over the change batch, never the table."""
        rows = (
            ids_df.select(self._bucket_expr(F.col("_id")).alias("b"))
            .distinct()
            .collect()
        )
        return sorted(int(r["b"]) for r in rows)

    def _snapshot(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (default: ``_current``, read once):
        ``{"version", "data", "buckets", "artifacts"}``. A reader resolves
        everything it serves from one of these."""
        v = self._current_version() if version is None else version
        with open(os.path.join(self._data_path(v), _MANIFEST_FILE)) as f:
            snap = json.load(f)
        snap.setdefault("data", v)
        if "artifacts" not in snap:
            snap["artifacts"] = self._legacy_artifacts(v)
        snap["version"] = v
        return snap

    def _legacy_artifacts(self, v: int) -> dict:
        """Artifact map of a manifest written before the map existed. Such
        a collection committed a version only for a data write, and built
        each index in place under the version it indexed, so each index's
        newest ``v{k}_idx/<tag>`` with ``k <= v`` is its last build and
        indexes data ``k``. The next commit writes this map out."""
        import re

        found: dict[str, dict] = {}
        for entry in os.listdir(self.path):
            m = re.fullmatch(r"v(\d+)_idx", entry)
            if not m or int(m.group(1)) > v:
                continue
            k = int(m.group(1))
            for tag in os.listdir(os.path.join(self.path, entry)):
                if found.get(tag, {"data": -1})["data"] < k:
                    found[tag] = {"path": f"{entry}/{tag}", "data": k}
        return found

    def _manifest(self, version: int | None = None) -> dict[str, str]:
        return self._snapshot(version)["buckets"]

    def _commit(
        self,
        artifacts: dict[str, str] | None = None,
        buckets: dict[int, str] | None = None,
        frame_schema: str | None = None,
    ) -> None:
        """Publish the next version: its ``_manifest.json`` and
        ``_frame_schema.json``, then the atomic ``_current`` swap — no Spark
        job, no data rewritten.

        A data write passes its ``buckets`` and ``frame_schema``, and the
        new version is its own data generation. Otherwise the buckets, the
        data generation and the frame schema carry forward. Artifact
        entries always carry forward; ``artifacts`` (tag -> directory built
        from the current data) are merged over them, each recorded as
        indexing the current data generation."""
        cur = self._current_version()
        prev = (
            self._snapshot(cur) if cur >= 0
            else {"data": -1, "buckets": {}, "artifacts": {}}
        )
        nxt = cur + 1
        path = self._data_path(nxt)
        entries = dict(prev["artifacts"])
        for tag, art in (artifacts or {}).items():
            entries[tag] = {
                "path": os.path.relpath(art, self.path), "data": prev["data"],
            }
        snap = {
            "data": prev["data"] if buckets is None else nxt,
            "buckets": prev["buckets"] if buckets is None else {
                str(k): v for k, v in sorted(buckets.items())
            },
            "artifacts": entries,
        }
        if frame_schema is None:
            with open(os.path.join(self._data_path(cur), "_frame_schema.json")) as f:
                frame_schema = f.read()
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, _MANIFEST_FILE), "w") as f:
            json.dump(snap, f)
        # Pin the frame schema beside the snapshot: an all-empty write emits
        # no part files, so reads need an explicit schema.
        with open(os.path.join(path, "_frame_schema.json"), "w") as f:
            f.write(frame_schema)
        tmp = os.path.join(self.path, f".{_CURRENT}.{_uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, os.path.join(self.path, _CURRENT))  # atomic swap

    def _artifact_dir(self, tag: str) -> str:
        """A fresh directory for a build of artifact ``tag``: under the next
        version, which no manifest names until the build commits."""
        return os.path.join(
            self.path, f"v{self._current_version() + 1}_idx", tag
        )

    def _artifact(
        self, tag: str, snap: dict | None = None, live: bool = True
    ) -> str | None:
        """Directory of artifact ``tag`` in ``snap`` (default: the current
        manifest), or None. ``live`` accepts only an artifact that indexes
        exactly the snapshot's data (the serving rule); otherwise the last
        built one is returned, which a refresh rolls forward."""
        snap = self._snapshot() if snap is None else snap
        entry = snap["artifacts"].get(tag)
        if entry is None or (live and entry["data"] != snap["data"]):
            return None
        return os.path.join(self.path, entry["path"])

    def _last_built(self, kind: str, prop: str, marker: str):
        """``(snapshot, dir, data generation)`` of the last-built ``kind``
        index on ``prop`` that a refresh rolls forward, read from the
        current manifest. Raises the build-first error when the manifest
        names none, or when vacuum removed it."""
        snap = self._snapshot()
        path = self._artifact(_tag(kind, prop), snap, live=False)
        if path is None or not os.path.exists(os.path.join(path, marker)):
            raise ValueError(f"no {kind} index found for property {prop}; build first")
        return snap, path, snap["artifacts"][_tag(kind, prop)]["data"]

    def _write_snapshot(
        self, df: DataFrame, affected: list[int] | None = None
    ) -> None:
        """Write ``df`` as the next version's data and commit it.
        ``affected=None`` rewrites every bucket of ``df``; otherwise ``df``
        holds ONLY rows of the affected buckets, each rewritten whole, and
        all other buckets carry forward by manifest pointer (the DML path:
        its cost is the affected buckets' size, not the batch's)."""
        cur = self._current_version()
        nxt = cur + 1
        path = self._data_path(nxt)
        # maxRecordsPerFile ≙ reference shard fill limit (100k points,
        # config/singleServer.yaml:41-42): bounds file size at scale.
        (
            df.withColumn("_bucket", self._bucket_expr(F.col("_id")))
            # id-sorted within each bucket file: parquet min/max row-group
            # stats then prune id lookups inside a bucket, the analogue of
            # the reference's B+tree key order (diskstore bucket scans)
            .sortWithinPartitions("_bucket", "_id")
            .write.option("maxRecordsPerFile", 100_000)
            .partitionBy("_bucket")
            .parquet(path, mode="overwrite")
        )
        written = {
            int(d.split("=", 1)[1]): f"v{nxt}/{d}"
            for d in os.listdir(path)
            if d.startswith("_bucket=")
        }
        if affected is None:
            buckets = written
        else:
            buckets = {int(k): v for k, v in self._manifest(cur).items()}
            for b in affected:
                buckets.pop(b, None)  # bucket may have emptied
            buckets.update({b: p for b, p in written.items() if b in set(affected)})
        self._commit(buckets=buckets, frame_schema=df.schema.json())

    def vacuum(self, keep_versions: int = 1) -> list[int]:
        """S7 backup rotation: snapshot versions double as backups
        (utils/backup.go keeps N timestamped copies; here, versions), and
        vacuum is the rotation. Retains every manifest of the last
        ``keep_versions`` data generations (index builds and refreshes
        commit versions too, but a backup is a generation of the data),
        plus every older version dir a retained manifest still references
        (bucket pointers carry forward across DML), and every artifact dir
        a retained manifest names as LIVE; deletes the rest. Index
        artifacts serve only the data they index, so a last-built artifact
        that no retained manifest serves goes too, and a later refresh asks
        for a build first. Returns the version numbers whose dirs (data or
        artifact) were removed."""
        import re
        import shutil

        keep_dirs: set[str] = set()
        live: set[str] = set()
        generations: set[int] = set()
        v = self._current_version()
        while v >= 0 and os.path.exists(
            os.path.join(self._data_path(v), _MANIFEST_FILE)
        ):
            snap = self._snapshot(v)
            if snap["data"] not in generations:
                if len(generations) >= int(keep_versions):
                    break
                generations.add(snap["data"])
            keep_dirs.add(f"v{v}")
            keep_dirs.update(p.split("/", 1)[0] for p in snap["buckets"].values())
            live.update(
                a["path"] for a in snap["artifacts"].values()
                if a["data"] == snap["data"]
            )
            v -= 1
        removed: set[int] = set()
        for entry in os.listdir(self.path):
            m = re.fullmatch(r"v(\d+)(_idx)?", entry)
            if not m:
                continue
            d = os.path.join(self.path, entry)
            if not m.group(2):
                if entry not in keep_dirs:
                    shutil.rmtree(d)
                    removed.add(int(m.group(1)))
                continue
            for tag in os.listdir(d):
                if f"{entry}/{tag}" not in live:
                    shutil.rmtree(os.path.join(d, tag))
                    removed.add(int(m.group(1)))
            if not os.listdir(d):
                os.rmdir(d)
        return sorted(removed)

    # -- read side ----------------------------------------------------------
    def _read_buckets(
        self, buckets: list[int] | None = None, snap: dict | None = None
    ) -> DataFrame:
        """Read ``snap`` (default: the current snapshot), pruned to
        ``buckets`` when given — bucket pruning is directory pruning, the
        point of the layout."""
        if self.spark is None:
            raise ValueError(
                "collection opened local-only (open_local): Spark surfaces "
                "(search/DML/index builds) unavailable; use search_local / "
                "the point-read tiers"
            )
        snap = self._snapshot() if snap is None else snap
        manifest = snap["buckets"]
        if buckets is not None:
            wanted = set(buckets)
            paths = [p for b, p in manifest.items() if int(b) in wanted]
        else:
            paths = list(manifest.values())
        schema = self._df_schema(snap["version"])
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, p) for p in paths]
        )

    def df(self) -> DataFrame:
        return self._read_buckets()

    def _df_schema(self, version: int | None = None) -> T.StructType:
        with open(os.path.join(self._data_path(version), "_frame_schema.json")) as f:
            return T.StructType.fromJson(json.loads(f.read()))

    def count(self) -> int:
        # ≙ point count bookkeeping shard/shard.go:78-96 (we can afford to
        # count; parquet row-group metadata makes this a metadata-only scan).
        return self.df().count()

    # -- W6: persisted text index -------------------------------------------
    def _index_path(self, prop: str, snap: dict | None = None) -> str | None:
        return self._artifact(_tag("text", prop), snap)

    def build_text_index(self, prop: str | None = None) -> dict[str, int]:
        """Materialize the doc_terms posting table + _numDocuments counter
        per text property, stored beside the current snapshot — the Spark
        analogue of the reference's insert-time text index
        (shard/index/text/text.go:16-20,151-258). Returns {prop: num_docs}.

        ``num_docs`` is the sum of the per-data-bucket document counts that
        the postings write observes on its own final stage; nothing is read
        back.

        Each index lands in a fresh directory and the call commits one new
        snapshot naming them all. The index serves only the data it was
        built from: a later insert/update/delete writes a new snapshot and
        search falls back to ad-hoc scoring until the index is rebuilt or
        rolled forward (:meth:`refresh_text_index`)."""
        from .operators.text_search import doc_term_freqs

        props = (
            [prop] if prop else [p for p, v in self.schema.items() if v.type == "text"]
        )
        stats: dict[str, int] = {}
        built: dict[str, str] = {}
        for p in props:
            if self.schema[p].type != "text":
                raise ValueError(f"property {p} is not a text index")
            built[_tag("text", p)] = path = self._artifact_dir(_tag("text", p))
            stats[p], _ = self._write_postings(doc_term_freqs(self.df(), p), path)
        self._commit(built)
        return stats

    def _write_postings(
        self, doc_terms: DataFrame, path: str, carried: dict[int, int] | None = None
    ) -> tuple[int, int]:
        """The one postings writer behind :meth:`build_text_index` and
        :meth:`refresh_text_index`: ``doc_terms(id, term, tf, doc_len,
        doc_first)`` -> the term-hash partitioned artifact at ``path`` with
        the corpus ``df`` denormalized onto every row, plus
        ``_num_docs.json``. Rows with a null ``doc_first`` are carried
        postings whose documents are already counted in ``carried`` (data
        bucket -> documents). Returns ``(num_docs, fresh posting rows)``.

        Two shuffles: the tokenizer's (id, term) aggregate, then a
        hash-partitioning on ``term_bucket`` into ``spark.sql.shuffle.
        partitions`` partitions — an explicit count, so AQE cannot coalesce
        the write into one task — which already satisfies the ``df`` window
        over (term_bucket, term); the window's sort leaves each bucket
        term-ordered for the writer, and each term bucket lands in one file.
        A query's isin(term) filter then prunes to <= |query terms| of the
        TERM_BUCKETS directories, and term row-group statistics prune inside
        each file.

        The statistics come from the write itself: an observation on the
        final (result) stage counts the fresh posting rows and, per data
        bucket, the ``doc_first`` rows. A result task's metrics are applied
        once even if a map stage is recomputed, so the counts are exact.
        ``_num_docs.json`` keeps ``bucket_docs`` (which a refresh carries
        forward for clean buckets) and their sum, ``num_docs``."""
        from pyspark.sql import Observation, Window

        from .functions.hashing import md5_hash64
        from .operators.text_search import TERM_BUCKETS

        doc_bucket = F.when(F.col("doc_first"), self._bucket_expr(F.col("id")))
        seen = Observation()
        (
            doc_terms.withColumn(
                "term_bucket",
                F.pmod(md5_hash64(F.col("term")), F.lit(TERM_BUCKETS)).cast("int"),
            )
            .repartition(
                int(self.spark.conf.get("spark.sql.shuffle.partitions")), "term_bucket"
            )
            .withColumn(
                "df", F.count("*").over(Window.partitionBy("term_bucket", "term"))
            )
            .observe(
                seen,
                F.count("doc_first").alias("fresh"),
                *(
                    F.count_if(doc_bucket == b).alias(str(b))
                    for b in range(self.num_buckets)
                ),
            )
            .select(*_POSTINGS_SCHEMA.names)
            # lead with the partition column: partitionBy's writer re-sorts
            # by its partition columns with an unstable sort, which would
            # destroy a term-only ordering; sorted this way the writer's
            # sort is a no-op and term row-group stats survive
            .sortWithinPartitions("term_bucket", "term")
            .write.mode("overwrite")
            # small row groups: single-query serving decodes whole row
            # groups, so group size IS the per-term read cost
            .option("parquet.block.size", 1024 * 1024)
            .partitionBy("term_bucket")
            .parquet(path)
        )
        metrics = seen.get
        bucket_docs = {b: int(metrics[str(b)]) for b in range(self.num_buckets)}
        bucket_docs.update(carried or {})
        num_docs = sum(bucket_docs.values())
        # leading underscore: ignored by parquet directory listings
        with open(os.path.join(path, "_num_docs.json"), "w") as f:
            json.dump({"num_docs": num_docs, "bucket_docs": {
                str(b): n for b, n in sorted(bucket_docs.items())}}, f)
        return num_docs, int(metrics["fresh"])

    def open_text_pool(self, prop: str, workers: int = 8):
        """Open a process-parallel serving pool over this collection's
        persisted text index for ``prop`` — the point-read serving tier
        (:class:`~semadb_spark.operators.text_search.TextServePool`): one
        worker process per client, each with its own ParquetFile handles
        on the immutable posting artifact, results byte-identical to the
        engine's text scoring. Measured on a 400M-posting index: 250-437
        QPS at 8-16 workers vs ~35 for one client (the Spark route stays
        the analytical/batch path). Use as a context manager. The pool
        serves the index that is live at open for its whole life: a
        ``build_text_index``/``refresh_text_index`` commits a new artifact
        at a new path and leaves this one as it was, so reopen the pool to
        serve it."""
        from .operators.text_search import TextServePool

        if prop not in self.schema or self.schema[prop].type != "text":
            raise ValueError(f"property {prop} is not a text index")
        path = self._index_path(prop)
        if path is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise ValueError(
                f"no persisted text index for {prop}; run build_text_index"
            )
        with open(os.path.join(path, "_num_docs.json")) as f:
            num_docs = json.load(f)["num_docs"]
        return TextServePool(path, num_docs=num_docs, workers=workers)

    def refresh_text_index(self, prop: str) -> int:
        """W6 incremental maintenance: roll the latest text index forward to
        the current snapshot, re-tokenizing only the documents that changed
        (the reference maintains posting sets transactionally on every
        write, shard/index/dispatch.go:33-110 + text.go:151-258; batch-first
        here).

        The bucket manifests name exactly the data buckets that changed
        since the index's snapshot. The old postings of the clean buckets
        keep their (tf, doc_len); the dirty buckets' documents are
        re-tokenized from the current snapshot, so updates and deletes fall
        out naturally. Both halves go through the same postings writer as
        :meth:`build_text_index`: one shuffle of the postings recomputes
        every term's ``df``, and the artifact has the build's layout
        (term-sorted buckets, 1 MB row groups) and equals a from-scratch
        rebuild row for row. ``num_docs`` is the clean buckets' document
        counts carried from the indexed version's ``bucket_docs`` plus the
        dirty buckets' counts observed on the write; an index written
        without ``bucket_docs`` is rebuilt from scratch instead, and the old
        postings are not read when no clean bucket holds a document. Returns
        the number of re-tokenized posting rows."""
        from .operators.text_search import doc_term_freqs

        if self.schema[prop].type != "text":
            raise ValueError(f"property {prop} is not a text index")
        snap, old_path, indexed = self._last_built("text", prop, "_num_docs.json")
        if indexed == snap["data"]:
            return 0
        with open(os.path.join(old_path, "_num_docs.json")) as f:
            old_docs = json.load(f).get("bucket_docs", {})
        # an index without bucket_docs carries nothing: every bucket is dirty
        old_manifest = self._manifest(indexed) if old_docs else {}
        dirty = _dirty_buckets(old_manifest, snap["buckets"])
        doc_terms = doc_term_freqs(self._read_buckets(dirty, snap), prop)
        carried = {int(b): n for b, n in old_docs.items() if int(b) not in dirty}
        if any(carried.values()):  # else no clean bucket holds a posting
            clean = (
                self.spark.read.schema(_POSTINGS_SCHEMA)
                .parquet(old_path)
                .filter(~self._bucket_expr(F.col("id")).isin(dirty))
                .select(
                    "id", "term", "tf", "doc_len",
                    F.lit(None).cast("boolean").alias("doc_first"),
                )
            )
            doc_terms = clean.unionByName(doc_terms)
        new_path = self._artifact_dir(_tag("text", prop))
        _, n_fresh = self._write_postings(doc_terms, new_path, carried)
        self._commit({_tag("text", prop): new_path})
        return n_fresh

    # -- W7 analogue: persisted ANN (IVF) index -----------------------------
    def _vindex_path(self, prop: str, snap: dict | None = None) -> str | None:
        return self._artifact(_tag("ivf", prop), snap)

    def build_vector_index(self, prop: str, nlist: int = 64, seed: int = 42) -> int:
        """Materialize an IVF index for a vectorVamana property: coarse
        centroids + the assignment table written ``partitionBy(centroid_id)``
        so a probe prunes file groups (the batch-built ANN artifact of
        SURVEY.md §7 M7; serving analogue of the reference's graph,
        shard/index/vamana/vamana.go:93-120). Returns nlist actually fit.

        Data-pinned like the text index: a snapshot with newer data falls
        back to exact search until rebuilt or refreshed."""
        from .operators.ann import ivf_build

        if self.schema[prop].type != "vectorVamana":
            raise ValueError(f"property {prop} is not a vectorVamana index")
        index = ivf_build(self.df(), prop, id_col="_id", nlist=nlist, seed=seed)
        artifact = index.assigned.select("_id", F.col(prop).alias("v"), "centroid_id")
        # Quantizer-in-the-index parity (the reference plugs the fitted
        # quantizer INTO the graph index and serves graph distances over
        # codes, vamana.go:257-259 / vectorstore.go:75+): when a binary
        # quantizer is already fit for this property, its codes join the
        # artifact rows so serving can hamming-prefilter each probed cell
        # and exact-rerank from the SAME row — the fused IVF-BQ kernel,
        # no join back to the base table at query time.
        qmeta = self._frozen_quantizer_meta(prop)
        qpath = self._qindex_path(prop)
        if qmeta is not None and qpath is not None:
            code_col = "bq_code" if qmeta["kind"] == "binary" else "pq_code"
            codes = self.spark.read.parquet(qpath).select("_id", code_col)
            artifact = artifact.join(codes, "_id", "left")
        path = self._artifact_dir(_tag("ivf", prop))
        self._write_ivf(artifact, index.centroids, path)
        self._commit({_tag("ivf", prop): path})
        return len(index.centroids)

    @staticmethod
    def _write_ivf(rows: DataFrame, centroids, path: str) -> None:
        rows.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
        with open(os.path.join(path, "_centroids.json"), "w") as f:
            json.dump(centroids.tolist(), f)

    def refresh_vector_index(self, prop: str) -> int:
        """W4 incremental index maintenance for the vector index: roll the
        latest IVF artifact forward to the current snapshot WITHOUT refitting.

        Centroids stay frozen (the reference likewise freezes quantizer /
        graph parameters once fit and applies per-point maintenance,
        shard/index/dispatch.go:33-110). The bucket manifests tell us
        exactly which data changed since the index's snapshot: only rows in
        buckets whose pointer moved are re-assigned (one Arrow UDF pass over
        the dirty buckets); clean rows keep their stored assignments.
        Deletes fall out naturally — a dirty bucket's rows are replaced
        wholesale by the current snapshot's content. Returns the number of
        rows re-assigned. The artifact itself is rewritten (O(index) IO,
        O(dirty) compute); per-centroid manifesting of the artifact is the
        next step at 100 TB. With no dirty bucket the artifact carries
        forward by pointer.
        """
        import numpy as np

        from .operators.ann import ivf_build  # noqa: F401  (doc anchor)
        from .functions.kmeans import assign_centroids

        tag = _tag("ivf", prop)
        snap, old_path, indexed = self._last_built("ivf", prop, "_centroids.json")
        if indexed == snap["data"]:
            return 0
        with open(os.path.join(old_path, "_centroids.json")) as f:
            cents = np.asarray(json.load(f), dtype=np.float64)
        dirty = _dirty_buckets(self._manifest(indexed), snap["buckets"])
        if not dirty:
            self._commit({tag: old_path})
            return 0
        old_index = self.spark.read.parquet(old_path)
        clean_rows = old_index.filter(~self._bucket_expr(F.col("_id")).isin(dirty))
        fresh = self._read_buckets(dirty, snap).select(
            "_id", F.col(prop).alias("v")
        ).filter(F.col("v").isNotNull())
        reassigned = assign_centroids(fresh, "v", cents)
        # a quantized artifact carries codes beside the floats — fresh
        # rows are re-encoded with the FROZEN fit (vectorstore.go:75+
        # Set semantics), exactly as clean rows keep their stored codes
        qmeta = self._frozen_quantizer_meta(prop, snap)
        if "bq_code" in old_index.columns and qmeta is not None:
            from .operators.quantize import bq_encode

            reassigned = bq_encode(
                reassigned, "v", np.asarray(qmeta["thresholds"])
            )
        elif "pq_code" in old_index.columns and qmeta is not None:
            from .operators.quantize import PQCodebooks, pq_encode

            reassigned = pq_encode(
                reassigned,
                "v",
                PQCodebooks(
                    centroids=np.asarray(qmeta["centroids"], dtype=np.float64),
                    metric=qmeta["pq_metric"],
                ),
            )
        n = reassigned.count()
        new_path = self._artifact_dir(tag)
        self._write_ivf(clean_rows.unionByName(reassigned), cents, new_path)
        self._commit({tag: new_path})
        return n

    def _vector_indexes(self, snap: dict | None = None) -> dict[str, object]:
        import numpy as np

        from .operators.ann import IVFBQIndex, IVFIndex

        snap = self._snapshot() if snap is None else snap
        out: dict[str, object] = {}
        for p, v in self.schema.items():
            if v.type != "vectorVamana":
                continue
            path = self._vindex_path(p, snap)
            if path is not None:
                with open(os.path.join(path, "_centroids.json")) as f:
                    cents = np.asarray(json.load(f), dtype=np.float64)
                assigned = self.spark.read.parquet(path)
                qmeta = self._frozen_quantizer_meta(p, snap)
                if "bq_code" in assigned.columns and qmeta is not None and qmeta[
                    "kind"
                ] == "binary":
                    # quantized artifact: serve via the fused IVF-BQ kernel
                    out[p] = IVFBQIndex(
                        cents,
                        np.asarray(qmeta["thresholds"], dtype=np.float64),
                        assigned.filter(F.col("bq_code").isNotNull()),
                        assigned.select("_id", "v"),
                        "v",
                        "_id",
                        # thread persisted provenance through reconstruction;
                        # legacy artifacts without the field stay "unknown"
                        # rather than being relabeled as corpus-fitted
                        threshold_source=qmeta.get("threshold_source", "unknown"),
                    )
                elif "pq_code" in assigned.columns and qmeta is not None and qmeta[
                    "kind"
                ] == "product":
                    from .operators.quantize import PQCodebooks
                    from .operators.ann import IVFPQIndex

                    books = PQCodebooks(
                        centroids=np.asarray(qmeta["centroids"], dtype=np.float64),
                        metric=qmeta["pq_metric"],
                    )
                    out[p] = IVFPQIndex(
                        cents,
                        books,
                        assigned.filter(F.col("pq_code").isNotNull()),
                        assigned.select("_id", "v"),
                        "v",
                        "_id",
                    )
                else:
                    out[p] = IVFIndex(cents, assigned, "v", "_id")
        return out

    # -- W7: persisted Vamana graph artifact ---------------------------------
    def build_vamana_index(self, prop: str, num_shards: int | None = None,
                           replicas: int = 2, seed: int = 42,
                           pack_dtype: str = "float32",
                           max_shard_rows: int = 400,
                           build_mode: str = "auto",
                           build_passes: int = 2) -> str:
        """Build the DiskANN-style graph for a vectorVamana property as a
        distributed job (operators/vamana.py merged build) and persist the
        edge table + entry metadata beside the snapshot. This is the EXPORT
        artifact — serve it from your ANN server (or beam_search in tests);
        in-Spark approximate serving uses the IVF artifact
        (build_vector_index). Graph parameters come from the schema
        (searchSize/degreeBound/alpha, models/index.go:275-313) and the
        build honors the declared distance metric. ``pack_dtype`` sets the
        packed blob storage precision ("float16" halves blob bytes; batched
        serving is artifact-transfer-bound, measured +15-21% QPS at ~0.003
        recall cost on the 10M bench artifact — arithmetic stays float32
        either way). Returns the artifact path."""
        from .operators.vamana import vamana_build

        value = self.schema[prop]
        if value.type != "vectorVamana":
            raise ValueError(f"property {prop} is not a vectorVamana index")
        index = vamana_build(
            self.df(), prop, id_col="_id",
            degree_bound=int(value.params.get("degreeBound", 64)),
            alpha=float(value.params.get("alpha", 1.2)),
            search_size=int(value.params.get("searchSize", 75)),
            num_shards=num_shards, replicas=replicas, seed=seed,
            metric=value.distance_metric, keep_sharded=True,
            # serving-vs-build shard sizing + kernel choice pass straight
            # through to the operator (vamana_build docstring): SERVING
            # artifacts want max_shard_rows in the low thousands
            max_shard_rows=int(max_shard_rows),
            build_mode=build_mode, build_passes=int(build_passes),
        )
        path = self._artifact_dir(_tag("vamana", prop))
        index.edges.write.mode("overwrite").parquet(os.path.join(path, "edges"))
        # per-shard serving subgraphs, shard-partitioned so query routing
        # prunes whole partitions (vamana_serve)
        index.shard_nodes.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(path, "shard_nodes")
        )
        index.shard_edges.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(path, "shard_edges")
        )
        packed_codes, quantizer_fp = self._write_packed_graph(
            prop, index.shard_nodes, index.shard_edges, path,
            pack_dtype=pack_dtype,
        )
        with open(os.path.join(path, "_graph.json"), "w") as f:
            json.dump(
                {
                    "entry_id": index.entry_id,
                    "degree_bound": index.degree_bound,
                    "alpha": index.alpha,
                    "search_size": index.search_size,
                    "metric": index.metric,
                    "centroids": index.centroids.tolist(),
                    "replicas": replicas,
                    "pack_dtype": pack_dtype,
                    "packed_codes": packed_codes,
                    "quantizer_fp": quantizer_fp,
                    # build provenance: lets maintenance rebuild with the
                    # SAME recipe when the delta outgrows roll-forward
                    "num_shards": int(len(index.centroids)),
                    "build_seed": int(seed),
                    "max_shard_rows": int(max_shard_rows),
                    "build_mode": build_mode,
                    "build_passes": int(build_passes),
                },
                f,
            )
        index.edges.unpersist()
        index.shard_edges.unpersist()
        index.shard_nodes.unpersist()
        self._commit({_tag("vamana", prop): path})
        return path

    def _vamana_artifact(
        self, prop: str, snap: dict | None = None, packed: bool = False
    ) -> tuple[str, dict]:
        """(directory, ``_graph.json`` meta) of the live Vamana artifact for
        ``prop``; with ``packed``, its packed serving layout must exist."""
        path = self._artifact(_tag("vamana", prop), snap)
        ok = path is not None and os.path.exists(os.path.join(path, "_graph.json"))
        if ok and packed:
            ok = os.path.exists(os.path.join(path, "packed", "_SUCCESS"))
        if not ok:
            what = "packed vamana artifact" if packed else "persisted vamana index"
            raise ValueError(f"no {what} for {prop}; run build_vamana_index")
        with open(os.path.join(path, "_graph.json")) as f:
            return path, json.load(f)

    def _write_packed_graph(
        self, prop: str, shard_nodes, shard_edges, path: str,
        pack_dtype: str = "float32",
    ) -> str | None:
        """Write the packed serving artifact (vamana_pack blob layout,
        cent-partition routed) beside a graph index — the in-Spark graph
        serving path. When the property's quantizer is already frozen, its
        codes are baked INTO the blobs (the reference stores the quantizer
        inside the graph index and beams over codes, vamana.go:257-259);
        the engine then serves this property quantized-through-graph
        (beam_on auto -> bq_adc / pq) instead of the fused-IVF route.
        Returns ``(code_kind, quantizer_fp)`` — ("bq"/"pq", fingerprint of
        the fit the codes were baked with) or ``(None, None)``."""
        import numpy as np

        from .operators.vamana import (
            vamana_pack,
            vamana_pack_add_codes,
            vamana_pack_add_pq_codes,
        )

        packed = vamana_pack(shard_nodes, shard_edges, dtype=pack_dtype)
        qmeta = self._frozen_quantizer_meta(prop)
        packed_codes = None
        if qmeta is not None and qmeta["kind"] == "binary":
            packed = vamana_pack_add_codes(
                packed, np.asarray(qmeta["thresholds"]), dtype=pack_dtype
            )
            packed_codes = "bq"
        elif qmeta is not None:
            from .operators.quantize import PQCodebooks

            packed = vamana_pack_add_pq_codes(
                packed,
                PQCodebooks(
                    centroids=np.asarray(qmeta["centroids"], dtype=np.float64),
                    metric=qmeta["pq_metric"],
                ),
                dtype=pack_dtype,
            )
            packed_codes = "pq"
        packed.write.mode("overwrite").partitionBy("cent").parquet(
            os.path.join(path, "packed")
        )
        q_fp = _quantizer_fingerprint(qmeta) if packed_codes else None
        return packed_codes, q_fp

    def vamana_search(
        self, prop: str, queries: list[tuple[str, list[float]]], k: int,
        nprobe: int | None = None, candidate_ids=None, n_seeds: int = 0,
        rerank: str = "exact",
    ):
        """Serve ANN queries from the PERSISTED Vamana artifact: distributed
        partition-local beam search + global merge (operators/vamana.py
        vamana_serve — the reference's shard fan-out + merge,
        cluster/actions.go). No graph state touches the driver; the artifact
        is read straight from parquet, so a fresh session serves a
        previously built index. ``rerank="none"`` (quantized packed
        artifacts only) is code-domain CANDIDATE GENERATION: results come
        from the ADC beam distances and the float blobs never leave the
        parquet scan — call with a generous ``k`` and exact-rerank
        downstream (see vamana_serve_packed)."""
        import numpy as np

        from .operators.vamana import vamana_serve

        snap = self._snapshot()
        path, meta = self._vamana_artifact(prop, snap)
        packed_dir = os.path.join(path, "packed")
        if candidate_ids is not None and rerank != "exact":
            raise ValueError(
                "rerank='none' needs the packed quantized artifact "
                "(unfiltered query on a collection with baked codes)"
            )
        if candidate_ids is not None and not isinstance(
            candidate_ids, DataFrame
        ):
            # convenience: accept a plain id list/sequence (Arrow-path local
            # frame — see semadb_spark.session.local_df)
            candidate_ids = local_df(
                self.spark, [(str(i),) for i in candidate_ids], "id string"
            )
        if os.path.exists(os.path.join(packed_dir, "_SUCCESS")):
            # packed-blob serving (shuffle-free scan, cent-routed); baked
            # quantizer codes engage the bq_adc / pq beam via beam_on auto.
            # Filtered queries (candidate_ids) run the reference's seeded
            # beam on the SAME packed layout (r9): shards without filtered
            # points are join-pruned before any blob is read, and the beam
            # stays quantized when codes are baked. nprobe routing is a
            # no-op in filtered mode (reference fans to every shard).
            from .operators.vamana import vamana_serve_packed

            thresholds, books = self._resolve_packed_quantizer(prop, meta, snap)
            return vamana_serve_packed(
                self.spark.read.parquet(packed_dir),
                queries, k,
                metric=meta["metric"],
                search_size=int(meta["search_size"]),
                centroids=np.asarray(meta["centroids"], dtype=np.float64),
                nprobe=None if candidate_ids is not None else nprobe,
                dtype=meta.get("pack_dtype", "float32"),
                kernel="batched",
                compute_dtype="float32",
                n_seeds=n_seeds,
                thresholds=thresholds,
                books=books,
                rerank=rerank,
                candidate_ids=candidate_ids,
            )
        if rerank != "exact":
            raise ValueError(
                "rerank='none' needs the packed quantized artifact "
                "(unfiltered query on a collection with baked codes)"
            )
        return vamana_serve(
            self.spark.read.parquet(os.path.join(path, "shard_nodes")),
            self.spark.read.parquet(os.path.join(path, "shard_edges")),
            queries, k,
            metric=meta["metric"],
            search_size=int(meta["search_size"]),
            centroids=np.asarray(meta["centroids"], dtype=np.float64),
            nprobe=nprobe,
            candidate_ids=candidate_ids,
            n_seeds=n_seeds,
        )

    def _resolve_packed_quantizer(self, prop: str, meta: dict, snap: dict):
        """(thresholds, books) for a packed graph's baked codes, with the
        fit-fingerprint drift check (ADVICE r8): codes were baked with a
        specific fit — the quantizer a serve resolves MUST be that fit or
        the ADC beam would score garbage silently. Legacy artifacts
        without a recorded fp skip the check. (None, None) when the
        artifact bakes no codes."""
        import numpy as np

        thresholds = books = None
        qmeta = self._frozen_quantizer_meta(prop, snap)
        if meta.get("packed_codes"):
            want_fp = meta.get("quantizer_fp")
            if qmeta is None:
                raise ValueError(
                    f"packed graph for {prop} bakes "
                    f"{meta['packed_codes']} codes but no frozen "
                    "quantizer meta resolves; rebuild the index"
                )
            if want_fp is not None:
                got_fp = _quantizer_fingerprint(qmeta)
                if got_fp != want_fp:
                    raise ValueError(
                        f"quantizer drift for {prop}: packed codes were "
                        f"baked with fit {want_fp} but the resolved "
                        f"frozen quantizer is {got_fp}; rebuild the "
                        "index (build_vamana_index) to re-bake codes"
                    )
        if meta.get("packed_codes") == "bq" and qmeta is not None:
            thresholds = np.asarray(qmeta["thresholds"])
        elif meta.get("packed_codes") == "pq" and qmeta is not None:
            from .operators.quantize import PQCodebooks

            books = PQCodebooks(
                centroids=np.asarray(qmeta["centroids"], dtype=np.float64),
                metric=qmeta["pq_metric"],
            )
        return thresholds, books

    def vamana_search_local(
        self, prop: str, vector: list[float], k: int,
        nprobe: int | None = None, n_seeds: int = 0,
    ) -> list[tuple[str, float]]:
        """Driver-local single-query ANN point-read over the packed Vamana
        artifact — NO Spark job (operators/vamana.py vamana_serve_local;
        the vector twin of the text serving-tier path). Returns
        ``[(id, distance)] * k`` in the collection metric. Use
        :meth:`vamana_search` for batches — the Spark route amortizes its
        per-job floor across thousands of queries; this is the latency
        tier a serving node runs."""
        from .operators.vamana import vamana_serve_local

        import numpy as np

        snap = self._snapshot()
        path, meta = self._vamana_artifact(prop, snap, packed=True)
        cents = np.asarray(meta["centroids"], dtype=np.float64)
        if nprobe is None:
            nprobe = max(1, min(len(cents), int(meta["search_size"]) // 8))
        # baked quantizer codes engage the local bq_adc / pq beam with
        # exact rerank, same route selection as the Spark packed serve
        thresholds, books = self._resolve_packed_quantizer(prop, meta, snap)
        return vamana_serve_local(
            os.path.join(path, "packed"), vector, k,
            metric=meta["metric"],
            search_size=int(meta["search_size"]),
            centroids=cents,
            nprobe=nprobe,
            dtype=meta.get("pack_dtype", "float32"),
            compute_dtype="float32",
            n_seeds=n_seeds,
            thresholds=thresholds,
            books=books,
        )

    def open_vector_pool(self, prop: str, workers: int = 8,
                         nprobe: int | None = None, n_seeds: int = 0):
        """Open a process-parallel ANN serving pool over this collection's
        packed Vamana artifact for ``prop`` — the vector point-read serving
        tier (:class:`~semadb_spark.operators.vamana.VectorServePool`):
        N worker processes with cent-affinity dispatch over the immutable
        packed artifact, results identical to :meth:`vamana_search_local`.
        The reference's deployment shape: concurrent request goroutines
        over shared shard state (shard/shard.go:329-472) with shard-owner
        fan-out (cluster/actions.go:321-351). Use as a context manager;
        the pool serves the artifact live at open, so reopen it after a
        build or refresh commits a new one."""
        import numpy as np

        from .operators.vamana import VectorServePool

        snap = self._snapshot()
        path, meta = self._vamana_artifact(prop, snap, packed=True)
        cents = np.asarray(meta["centroids"], dtype=np.float64)
        if nprobe is None:
            nprobe = max(1, min(len(cents), int(meta["search_size"]) // 8))
        thresholds, books = self._resolve_packed_quantizer(prop, meta, snap)
        return VectorServePool(
            os.path.join(path, "packed"),
            centroids=cents,
            metric=meta["metric"],
            search_size=int(meta["search_size"]),
            nprobe=nprobe,
            dtype=meta.get("pack_dtype", "float32"),
            compute_dtype="float32",
            n_seeds=n_seeds,
            workers=workers,
            thresholds=thresholds,
            books=books,
        )

    def prefetch_vamana_index(self, prop: str, threads: int = 8):
        """Start background page-cache readahead of the packed Vamana
        artifact and return the (daemon) thread — the open-time half of
        the cold-start story. Measured on the 10M artifact (r10,
        fadvise-evicted cache): the un-knobbed first batch is IO-bound at
        34.2 s because the serve's scan streams bytes at ~190 MB/s; raced
        against this readahead (~640 MB/s parallel raw reads) the first
        batch lands at 13.9 s — under the reference's documented 1-10 s
        cold-start class scaled to 10M (README.md:204). Call at artifact
        open on a serving node; :meth:`warm_vamana_index` remains the
        blocking full warm-up (bytes + plan codegen)."""
        from .operators.vamana import prefetch_packed_artifact

        path, _ = self._vamana_artifact(prop, packed=True)
        return prefetch_packed_artifact(
            os.path.join(path, "packed"), threads=threads
        )

    def warm_vamana_index(self, prop: str) -> float:
        """Pre-warm the packed Vamana serving artifact so the FIRST real
        query batch serves at warm latency; returns the seconds spent.

        Cold-start anatomy (measured r9, fresh session each):
        1M packed artifact 10.1 s cold first batch -> 3.4 s warm;
        10M 43.2 s cold -> ~8 s warm. The cold cost is artifact bytes
        (blob read into the OS page cache + parquet footer decode) plus
        one-time whole-stage codegen of the serve plan — the same 1-10 s
        cold-start class the reference documents for its own shard decode
        cache (README.md:204; cache/manager.go decodes a shard once and
        serves many requests). This knob does both halves explicitly:
        one column-scan forces every blob byte through the page cache,
        and a single 1-query serve compiles the plan and builds the
        LUT/closure state. Call it after opening a collection on a host
        that will serve latency-sensitive traffic; skip it for batch
        pipelines (the first batch simply pays it instead)."""
        import time

        import numpy as np

        t0 = time.time()
        path, meta = self._vamana_artifact(prop)
        packed_dir = os.path.join(path, "packed")
        if os.path.exists(os.path.join(packed_dir, "_SUCCESS")):
            packed = self.spark.read.parquet(packed_dir)
            blob_cols = [
                c for c in ("vecs", "indptr", "indices", "codes", "pq_codes")
                if c in packed.columns
            ]
            # one aggregate over the blob lengths reads every byte once
            packed.select(
                sum((F.sum(F.length(c)) for c in blob_cols), F.lit(0))
            ).collect()
        # 1-query serve: codegen + LUT/closure init (centroid 0 as the
        # probe vector — content is irrelevant, the plan is the target)
        qv = [float(x) for x in np.asarray(meta["centroids"])[0]]
        self.vamana_search(prop, [("_warm", qv)], k=1, nprobe=1).collect()
        return time.time() - t0

    def refresh_vamana_index(self, prop: str, mode: str = "auto") -> int:
        """W8 maintain-on-write for the PERSISTED Vamana artifact: apply the
        snapshot delta to the merged graph with the reference's
        delete-repair + re-insert (vamana.go:136-263 semantics via
        operators/vamana.py vamana_delete/vamana_update), then roll the
        per-shard serving subgraphs forward without rebuilding them.

        The bucket manifests name the changed data; within the dirty
        buckets the actual delta (deleted / changed / new ids) is joined
        out. ``mode`` routes the maintenance COST decision (r11 — the
        reference repairs any batch in place, vamana.go:136-263; here the
        two strategies have crossing cost curves, so the router picks):

        - ``"auto"`` (default): roll forward when the delta fits the
          bounded repair — at most MAX_UPDATE_BATCH changed points (the
          reference's own update-request bound, httpapi/v2/handlers.go:314
          — the roll-forward cost is delta x searchSize driver-pooled beam
          repairs, linear in the batch) and the entry node untouched;
          otherwise REBUILD with the artifact's recorded build recipe
          (num_shards/seed/pack_dtype/replicas) — past a few percent of
          the corpus the distributed rebuild is both cheaper per change
          and better (it re-optimizes what local repair only patches).
        - ``"roll_forward"``: bounded repair only; raises past the bound
          or on entry-node changes (the pre-r11 behavior).
        - ``"rebuild"``: force the full rebuild.

        Shard roll-forward: departed nodes leave their shards'
        node/edge tables; upserted nodes join their ``replicas`` nearest
        build-centroid shards carrying their repaired merged-graph edges
        (restricted to in-shard endpoints) plus one bidirectional tether to
        their nearest in-shard node so every upsert is reachable from the
        shard medoid. Like the reference's delete, the shard-local repair
        is intentionally local/optimistic — the merged graph holds the full
        repair; a rebuild re-optimizes. Returns the number of applied
        changes. With no dirty bucket the artifact carries forward by
        pointer."""
        import numpy as np

        from .functions.distances import distance_expr
        from .operators.vamana import (
            MAX_UPDATE_BATCH,
            VamanaIndex,
            vamana_delete,
            vamana_update,
        )

        if mode not in ("auto", "roll_forward", "rebuild"):
            raise ValueError(
                f"unknown mode {mode!r}, expected auto|roll_forward|rebuild"
            )
        if self.schema[prop].type != "vectorVamana":
            raise ValueError(f"property {prop} is not a vectorVamana index")
        tag = _tag("vamana", prop)
        snap, old_path, indexed = self._last_built("vamana", prop, "_graph.json")
        if indexed == snap["data"]:
            return 0
        with open(os.path.join(old_path, "_graph.json")) as f:
            meta = json.load(f)
        dirty = _dirty_buckets(self._manifest(indexed), snap["buckets"])
        if not dirty:
            self._commit({tag: old_path})
            return 0
        new_path = self._artifact_dir(tag)
        old_sn = self.spark.read.parquet(os.path.join(old_path, "shard_nodes"))
        old_se = self.spark.read.parquet(os.path.join(old_path, "shard_edges"))
        old_edges = self.spark.read.parquet(os.path.join(old_path, "edges"))

        # -- bounded delta within the dirty buckets -------------------------
        is_dirty_id = self._bucket_expr(F.col("id")).isin(dirty)
        old_nodes = (
            old_sn.select("id", "v").groupBy("id").agg(F.first("v").alias("ov"))
        ).filter(is_dirty_id)
        cur_dirty = (
            self._read_buckets(dirty, snap)
            .select(F.col("_id").alias("id"), F.col(prop).alias("nv"))
            .filter(F.col("nv").isNotNull())
        )
        delta = old_nodes.join(cur_dirty, "id", "full_outer").filter(
            F.col("ov").isNull()
            | F.col("nv").isNull()
            | (F.col("ov") != F.col("nv"))
        )

        def _rebuild() -> int:
            # the routed rebuild: same recipe as the original build (the
            # recorded provenance), full re-optimization — the cost winner
            # once the delta outgrows the bounded repair
            n = delta.count()
            self.build_vamana_index(
                prop,
                num_shards=meta.get("num_shards"),
                replicas=int(meta.get("replicas", 2)),
                seed=int(meta.get("build_seed", 42)),
                pack_dtype=meta.get("pack_dtype", "float32"),
                max_shard_rows=int(meta.get("max_shard_rows", 400)),
                build_mode=meta.get("build_mode", "auto"),
                build_passes=int(meta.get("build_passes", 2)),
            )
            return n

        if mode == "rebuild":
            return _rebuild()
        delta_rows = delta.limit(MAX_UPDATE_BATCH + 1).collect()
        if len(delta_rows) > MAX_UPDATE_BATCH:
            if mode == "auto":
                return _rebuild()
            raise ValueError(
                f"vamana refresh delta exceeds {MAX_UPDATE_BATCH} changed "
                f"points; rebuild the index (build_vamana_index) instead"
            )
        deleted = [r["id"] for r in delta_rows if r["nv"] is None]
        new_ids = [r["id"] for r in delta_rows if r["ov"] is None]
        changed = [
            r["id"] for r in delta_rows if r["ov"] is not None and r["nv"] is not None
        ]
        if meta["entry_id"] in deleted or meta["entry_id"] in changed:
            if mode == "auto":
                # in-place entry-node relink is the one repair the bounded
                # path refuses (policy note in operators/vamana.py) — the
                # router sends it to the rebuild instead of erroring
                return _rebuild()
            raise ValueError(
                "vamana refresh touches the entry node; rebuild instead"
            )
        cur_vecs = self.df().select(
            F.col("_id").alias("id"), F.col(prop).alias("v")
        ).filter(F.col("v").isNotNull())
        idx = VamanaIndex(
            old_edges,
            meta["entry_id"],
            int(meta["degree_bound"]),
            float(meta["alpha"]),
            int(meta["search_size"]),
            meta["metric"],
        )
        if deleted:
            idx = vamana_delete(idx, cur_vecs, deleted, vec_col="v", id_col="id")
        upserts = changed + new_ids
        if upserts:
            idx = vamana_update(idx, cur_vecs, upserts, vec_col="v", id_col="id")
        idx.edges.write.mode("overwrite").parquet(os.path.join(new_path, "edges"))

        # -- shard subgraph roll-forward ------------------------------------
        gone = deleted + changed
        sn_kept = old_sn.filter(~F.col("id").isin(gone)) if gone else old_sn
        se_kept = (
            old_se.filter(~F.col("src").isin(gone) & ~F.col("dst").isin(gone))
            if gone
            else old_se
        )
        sn_new, se_new = sn_kept, se_kept
        if upserts:
            cents = np.asarray(meta["centroids"], dtype=np.float64)
            replicas = int(meta.get("replicas", 2))
            up_vec = {
                r["id"]: [float(x) for x in r["nv"]]
                for r in delta_rows
                if r["nv"] is not None
            }
            # salt layout per centroid from the kept node table (partition
            # values "c_salt"): the SURVIVING salt slots, plus max+1 as the
            # build's split count estimate. A centroid with no survivors
            # gets slot 0 (fresh "c_0" sub-shard).
            salt_slots: dict[int, list[int]] = {}
            for r in sn_kept.select("shard").distinct().collect():
                c, _, s = r["shard"].partition("_")
                salt_slots.setdefault(int(c), []).append(int(s))
            for c in salt_slots:
                salt_slots[c].sort()
            # the build salts with pmod(xxhash64(id), k) (vamana.py build
            # path); reuse the SAME hash so a refreshed upsert lands in the
            # sub-shard a rebuild would choose — one tiny job over the ≤100
            # upsert ids fetches the raw hashes, the modulus runs driver-side
            xxh = {
                r["id"]: r["h"]
                for r in self.spark.createDataFrame(
                    [(i,) for i in upserts], "id string"
                )
                .select("id", F.xxhash64("id").alias("h"))
                .collect()
            }

            def shards_of(pid: str, vec: list[float]) -> list[str]:
                d = ((cents - np.asarray(vec)) ** 2).sum(axis=1)
                out = []
                for c in np.argsort(d)[: min(replicas, len(cents))]:
                    slots = salt_slots.get(int(c), [0])
                    n = slots[-1] + 1  # build split count (max surviving + 1)
                    h = xxh[pid] % n  # == Spark pmod: Python % is non-negative
                    if h not in slots:
                        # the rebuild-equivalent slot's members all departed;
                        # remap deterministically onto a surviving slot rather
                        # than creating an orphan sub-shard with no medoid
                        h = slots[xxh[pid] % len(slots)]
                    out.append(f"{int(c)}_{h}")
                return out

            member_rows = [
                (s, i, up_vec[i]) for i in upserts for s in shards_of(i, up_vec[i])
            ]
            sn_add = self.spark.createDataFrame(
                member_rows, "shard string, id string, v array<float>"
            ).select(*old_sn.columns)
            # merged-graph edges of the upserts, projected into shards where
            # both endpoints are members (driver-side: <= batch x degree)
            up_edges = (
                idx.edges.filter(F.col("src").isin(upserts) | F.col("dst").isin(upserts))
                .select("src", "dst")
                .collect()
            )
            nbr_ids = sorted(
                {r["src"] for r in up_edges} | {r["dst"] for r in up_edges}
            )
            membership: dict[str, set] = {i: set() for i in nbr_ids}
            for r in (
                sn_kept.filter(F.col("id").isin(nbr_ids)).select("shard", "id").collect()
            ):
                membership.setdefault(r["id"], set()).add(r["shard"])
            for s, i, _ in member_rows:
                membership.setdefault(i, set()).add(s)
            se_rows = [
                (s, r["src"], r["dst"])
                for r in up_edges
                for s in membership.get(r["src"], set()) & membership.get(r["dst"], set())
            ]
            # tether: nearest kept in-shard node, bidirectional — guarantees
            # the upsert is reachable from the shard medoid even if none of
            # its graph neighbours share the shard
            qdf = self.spark.createDataFrame(
                [(s, i, up_vec[i]) for s, i, _ in member_rows],
                "shard string, qid string, qv array<float>",
            )
            from pyspark.sql import Window

            t = (
                qdf.join(sn_kept, "shard")
                .filter(F.col("id") != F.col("qid"))
                .withColumn(
                    "_d",
                    distance_expr(
                        meta["metric"],
                        F.col("qv").cast("array<double>"),
                        F.col("v").cast("array<double>"),
                    ),
                )
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("shard", "qid").orderBy(
                            F.col("_d").asc(), F.col("id").asc()
                        )
                    ),
                )
                .filter(F.col("_rn") == 1)
                .select("shard", "qid", "id")
                .collect()
            )
            se_rows += [(r["shard"], r["qid"], r["id"]) for r in t]
            se_rows += [(r["shard"], r["id"], r["qid"]) for r in t]
            se_add = self.spark.createDataFrame(
                sorted(set(se_rows)), "shard string, src string, dst string"
            )
            sn_new = sn_kept.unionByName(sn_add)
            se_new = se_kept.unionByName(se_add)
        sn_new.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(new_path, "shard_nodes")
        )
        se_new.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(new_path, "shard_edges")
        )
        # re-pack the rolled-forward subgraphs (reading back the committed
        # parquet cuts the union/filter lineage) so the packed serving
        # artifact never lags the shard tables it was derived from
        # roll-forward preserves the original artifact's blob precision
        meta["pack_dtype"] = meta.get("pack_dtype", "float32")
        meta["packed_codes"], meta["quantizer_fp"] = self._write_packed_graph(
            prop,
            self.spark.read.parquet(os.path.join(new_path, "shard_nodes")),
            self.spark.read.parquet(os.path.join(new_path, "shard_edges")),
            new_path,
            pack_dtype=meta["pack_dtype"],
        )
        with open(os.path.join(new_path, "_graph.json"), "w") as f:
            json.dump(meta, f)
        self._commit({tag: new_path})
        return len(delta_rows)

    # -- W9 + vectorstore.go:75+: persisted quantized serving codes ----------
    def _qindex_path(self, prop: str, snap: dict | None = None) -> str | None:
        return self._artifact(_tag("quant", prop), snap)

    def build_quantized_index(self, prop: str, seed: int = 42) -> str:
        """Fit + encode the schema-declared quantizer for a vector property
        and persist the codes beside the current snapshot (the reference
        fits once past triggerThreshold then serves every query through the
        quantized store, shard/vectorstore/vectorstore.go:75+,
        binary.go:145-178, product.go:175-236). Returns the quantizer kind.

        Data-pinned like the other index artifacts: a snapshot with newer
        data falls back to exact float serving until the codes are
        re-encoded (the next insert does it, :meth:`_autofit_quantizers`)
        or rebuilt."""
        from .operators.quantize import build_quantized_index as _build

        value = self.schema[prop]
        if value.type not in ("vectorFlat", "vectorVamana"):
            raise ValueError(f"property {prop} is not a vector index")
        quantizer = value.quantizer
        if quantizer is None:
            raise ValueError(f"property {prop} declares no quantizer")
        idx = _build(
            self.df(), prop, quantizer,
            id_col="_id", metric=value.distance_metric, seed=seed,
        )
        meta: dict = {"kind": idx.kind, "code_col": idx.code_col, "metric": idx.metric}
        if idx.kind == "binary":
            meta["thresholds"] = (
                idx.thresholds.tolist()
                if getattr(idx.thresholds, "ndim", 0)
                else float(idx.thresholds)
            )
            # provenance: this path always fits exact full-corpus means
            # (quantize.bq_fit); recorded so artifacts are auditable against
            # sample-fitted operator-level indexes
            meta["threshold_source"] = "corpus_mean"
        else:
            meta["centroids"] = idx.books.centroids.tolist()
            meta["pq_metric"] = idx.books.metric
        self._write_codes(prop, idx.codes, meta)
        return idx.kind

    def _write_codes(self, prop: str, codes: DataFrame, meta: dict) -> None:
        """Persist a property's quantized codes + fit and commit them."""
        path = self._artifact_dir(_tag("quant", prop))
        codes.write.mode("overwrite").parquet(path)
        with open(os.path.join(path, "_quantizer.json"), "w") as f:
            json.dump(meta, f)
        self._commit({_tag("quant", prop): path})

    def _frozen_quantizer_meta(self, prop: str, snap: dict | None = None) -> dict | None:
        """The quantizer fit of the last-built codes ``snap`` names for
        ``prop`` (live or not). The fit FREEZES once made (binary.go:145+
        fits a single time past the trigger; product.go:230-236 likewise)
        — later snapshots re-encode with these frozen parameters, never
        refit."""
        path = self._artifact(_tag("quant", prop), snap, live=False)
        if path is None or not os.path.exists(os.path.join(path, "_quantizer.json")):
            return None
        with open(os.path.join(path, "_quantizer.json")) as f:
            return json.load(f)

    def _reencode_frozen(self, prop: str, meta: dict) -> None:
        """Encode the current snapshot with a FROZEN fit (no refit) and
        commit the codes — the maintain-on-write half of vectorstore.go:75+
        (Set encodes each point with the already-fitted quantizer)."""
        import numpy as np

        from .operators.quantize import PQCodebooks, bq_encode, pq_encode

        base = self.df().filter(F.col(prop).isNotNull()).select("_id", prop)
        if meta["kind"] == "binary":
            codes = bq_encode(base, prop, np.asarray(meta["thresholds"])).select(
                "_id", "bq_code"
            )
        else:
            books = PQCodebooks(
                centroids=np.asarray(meta["centroids"], dtype=np.float64),
                metric=meta["pq_metric"],
            )
            codes = pq_encode(base, prop, books).select("_id", "pq_code")
        self._write_codes(prop, codes, meta)

    def _autofit_quantizers(self) -> None:
        """Insert-path auto-trigger parity (binary.go:145+, product.go:
        175-236): a schema-declared quantizer with ``triggerThreshold`` fits
        itself once the stored point count crosses the threshold — no
        explicit build_quantized_index() call — then freezes; subsequent
        writes re-encode the new snapshot with the frozen fit. Below the
        threshold the property keeps serving exact floats."""
        for p, v in self.schema.items():
            if v.type not in ("vectorFlat", "vectorVamana") or v.quantizer is None:
                continue
            qz = v.quantizer
            params = qz.get(qz.get("type")) or {}
            trigger = params.get("triggerThreshold")
            if not trigger:
                continue
            if self._qindex_path(p) is not None:
                continue  # codes already current for this snapshot
            frozen = self._frozen_quantizer_meta(p)
            if frozen is not None:
                self._reencode_frozen(p, frozen)
            elif (
                self.df().filter(F.col(p).isNotNull()).count() >= int(trigger)
            ):
                self.build_quantized_index(p)

    def _quantized_indexes(self, snap: dict | None = None) -> dict[str, object]:
        import numpy as np

        from .operators.quantize import PQCodebooks, QuantizedIndex

        snap = self._snapshot() if snap is None else snap
        out: dict[str, object] = {}
        for p, v in self.schema.items():
            if v.type not in ("vectorFlat", "vectorVamana") or v.quantizer is None:
                continue
            path = self._qindex_path(p, snap)
            if path is None:
                continue
            with open(os.path.join(path, "_quantizer.json")) as f:
                meta = json.load(f)
            codes = self.spark.read.parquet(path)
            if meta["kind"] == "binary":
                out[p] = QuantizedIndex(
                    kind="binary", codes=codes, code_col=meta["code_col"],
                    id_col="_id", thresholds=np.asarray(meta["thresholds"]),
                    metric=meta["metric"],
                )
            else:
                out[p] = QuantizedIndex(
                    kind="product", codes=codes, code_col=meta["code_col"],
                    id_col="_id",
                    books=PQCodebooks(
                        centroids=np.asarray(meta["centroids"], dtype=np.float64),
                        metric=meta["pq_metric"],
                    ),
                )
        return out

    def _graph_indexes(self, snap: dict | None = None) -> dict[str, dict]:
        """Persisted Vamana graph artifacts live in ``snap`` — handles only
        (lazy parquet frames + routing metadata), consumed by the
        compiler's filtered vectorVamana seeded-beam route (search.go:28-51
        parity)."""
        import numpy as np

        snap = self._snapshot() if snap is None else snap
        out: dict[str, dict] = {}
        for p, val in self.schema.items():
            if val.type != "vectorVamana":
                continue
            try:
                path, meta = self._vamana_artifact(p, snap)
            except ValueError:
                continue
            out[p] = {
                "shard_nodes": self.spark.read.parquet(
                    os.path.join(path, "shard_nodes")
                ),
                "shard_edges": self.spark.read.parquet(
                    os.path.join(path, "shard_edges")
                ),
                "centroids": np.asarray(meta["centroids"], dtype=np.float64),
                "search_size": int(meta["search_size"]),
                "metric": meta["metric"],
            }
            packed_dir = os.path.join(path, "packed")
            if os.path.exists(os.path.join(packed_dir, "_SUCCESS")):
                out[p]["packed"] = self.spark.read.parquet(packed_dir)
                out[p]["pack_dtype"] = meta.get("pack_dtype", "float32")
                out[p]["packed_codes"] = meta.get("packed_codes")
                out[p]["quantizer_fp"] = meta.get("quantizer_fp")
        return out

    def _text_indexes(
        self, snap: dict | None = None
    ) -> tuple[dict[str, DataFrame], dict[str, int]]:
        snap = self._snapshot() if snap is None else snap
        idxs: dict[str, DataFrame] = {}
        stats: dict[str, int] = {}
        for p, v in self.schema.items():
            if v.type != "text":
                continue
            path = self._index_path(p, snap)
            if path is not None:
                idxs[p] = self.spark.read.schema(_POSTINGS_SCHEMA).parquet(path)
                with open(os.path.join(path, "_num_docs.json")) as f:
                    stats[p] = json.load(f)["num_docs"]
        return idxs, stats

    # -- search (the shard API surface: Shard.SearchPoints) -----------------
    def _open_engine(self):
        """Version-keyed serving-engine cache — the analogue of the
        reference's shard decode cache (shard/cache/manager.go:39-303: a
        decoded shard is opened once and reused across requests until a
        write invalidates it). Opening an engine resolves the data and every
        index artifact from ONE manifest and re-derives every serving plan;
        serving hundreds of requests must not pay that per call. Every
        commit — DML, build or refresh — bumps the version, so the key
        rotates by itself."""
        from .plans.compiler import SearchEngine

        if self.spark is None:
            raise ValueError(
                "collection opened local-only (open_local): Spark surfaces "
                "(search/DML/index builds) unavailable; use search_local / "
                "the point-read tiers"
            )
        snap = self._snapshot()
        cached = getattr(self, "_engine_cache", None)
        if cached is not None and cached[0] == snap["version"]:
            return cached[1]
        if cached is not None:
            # natural rotation (DML bumped the version): release the old
            # engine's persisted frames before building the replacement
            cached[1].close()
        schema_dict = {p: {"type": vv.type, vv.type: vv.params} for p, vv in self.schema.items()}
        idxs, stats = self._text_indexes(snap)
        eng = SearchEngine(
            self._read_buckets(snap=snap),
            schema_dict,
            text_indexes=idxs,
            text_index_stats=stats,
            vector_indexes=self._vector_indexes(snap),
            quantized_indexes=self._quantized_indexes(snap),
            graph_indexes=self._graph_indexes(snap),
        )
        self._engine_cache = (snap["version"], eng)
        return eng

    def search(self, request: dict, route: str = "spark"):
        """Run a JSON query-tree search request against the collection
        (shard/shard.go:329-472 via the compiler; request shape
        models/search.go:19-25). Uses the persisted text index for the
        current snapshot when one exists.

        ``route`` picks the execution tier:

        - ``"spark"`` (default) — the distributed engine; returns a Spark
          DataFrame. The analytics/batch route.
        - ``"auto"`` — the point-read route (returns a PANDAS DataFrame,
          same columns/ordering — parity-tested): serve via
          :meth:`search_local` whenever every leg of the compiled tree is
          local-servable, else fall back to the Spark engine and
          ``toPandas()`` the page. This is the reference's serving shape —
          the whole query lifecycle in one process
          (shard/shard.go:329-472) — without callers having to know the
          tier names; the engine's ~150 ms-per-job scheduler floor only
          applies on the fallback."""
        if route == "spark":
            return self._open_engine().search(request)
        if route != "auto":
            raise ValueError(f"unknown route {route!r}, expected spark|auto")
        from .plans.local_engine import LocalServeUnsupported

        try:
            return self.search_local(request)
        except LocalServeUnsupported:
            return self._open_engine().search(request).toPandas()

    def search_local(self, request: dict, vector_mode: str = "auto",
                     graph_nprobe: int | None = None):
        """Driver-local search: the SAME JSON query tree as :meth:`search`,
        served end-to-end in THIS process — filter legs via pyarrow
        predicate scans over the bucketed snapshot, text legs via the
        persisted posting index (text_serve_local), vector legs via the
        exact NumPy scan (or the packed-graph beam with
        ``vector_mode="graph"``), hybrid merge + shaping in pandas. The
        reference's whole query lifecycle is exactly this one-process
        point-read (shard/shard.go:329-472: filter -> rank -> hybrid merge
        -> shape on the request thread); :meth:`search` remains the
        analytics/batch route (a 1-task Spark job costs ~150 ms of
        scheduler floor, capping engine point-reads at ~2-7 QPS).

        Returns a pandas DataFrame with the engine's output shape and
        ordering (parity-tested). IVF-indexed float properties serve
        locally (probe + exact rerank) and so do flat quantized
        code-scan properties (frozen-threshold bit metric / ADC) — both
        engine parity. Raises
        :class:`~semadb_spark.plans.local_engine.LocalServeUnsupported`
        for shapes only the distributed engine serves (fused IVF-BQ/PQ
        oversample+rerank, broad-filtered graph walks, schemaless
        payload sort) — catch it and fall back to :meth:`search`."""
        from .plans.local_engine import LocalSearchEngine

        key = (self._current_version(), vector_mode, graph_nprobe)
        cached = getattr(self, "_local_engine_cache", None)
        if cached is None or cached[0] != key:
            self._local_engine_cache = (
                key,
                LocalSearchEngine(self, vector_mode,
                                  graph_nprobe=graph_nprobe, version=key[0]),
            )
        return self._local_engine_cache[1].search(request)

    def open_search_pool(self, workers: int = 8, vector_mode: str = "auto",
                         warm_requests=None,
                         graph_nprobe: int | None = None,
                         preload: bool = False):
        """Open a process-parallel HYBRID serving pool over this
        collection's current snapshot
        (:class:`~semadb_spark.plans.local_engine.HybridServePool`): N
        worker processes, each running the full compiled-query lifecycle
        of :meth:`search_local` over its own resident snapshot state —
        the reference's concurrent-search deployment for the composed
        query tree (shard/shard.go:329-472). Workers open the collection
        filesystem-only (no JVM) and every one of them serves the snapshot
        that was current when the pool opened, whenever it starts; reopen
        the pool to serve a later commit (DML, build or refresh). Results
        identical to :meth:`search_local` at that snapshot (parity-tested).
        Use as a context manager.

        ``preload=True`` decodes every graph artifact ONCE in the parent
        into POSIX shared memory; workers attach zero-copy views — steady
        state from the first request at ONE resident artifact copy for
        the whole pool (vamana.export_packed_shared). If the export fails,
        each worker decodes a private copy instead; oversized artifacts
        (past the serve-cache cap) stay lazy either way."""
        from .plans.local_engine import HybridServePool

        return HybridServePool(
            self.path, workers=workers, vector_mode=vector_mode,
            warm_requests=warm_requests, graph_nprobe=graph_nprobe,
            preload=preload,
        )

    # -- W1: insert ---------------------------------------------------------
    def insert(self, points: DataFrame, id_col: str = "_id") -> int:
        """All-or-nothing batch insert with duplicate rejection
        (shard/shard.go:137-144 in-batch, :188-196 vs stored).

        Only the buckets the new ids hash to are probed and rewritten."""
        points = points.withColumnRenamed(id_col, "_id") if id_col != "_id" else points
        in_batch_dup = (
            points.groupBy("_id").count().filter(F.col("count") > 1).select("_id").head(1)
        )
        if in_batch_dup:
            raise DuplicatePointError(f"duplicate point id: {in_batch_dup[0][0]}")
        affected = self._buckets_of(points.select("_id"))
        existing = self._read_buckets(affected)
        # Broadcast the SMALL side (the incoming batch ids) and probe only
        # the affected buckets — a clash can only live where its id hashes.
        clash = (
            existing.select("_id")
            .join(F.broadcast(points.select("_id")), "_id", "left_semi")
            .head(1)
        )
        if clash:
            raise DuplicatePointError(f"point already exists: {clash[0][0]}")
        merged = existing.unionByName(points, allowMissingColumns=True)
        n = points.count()
        self._write_snapshot(merged, affected=affected)
        self._autofit_quantizers()
        return n

    # -- W2: update ---------------------------------------------------------
    def update(self, updates: DataFrame, id_col: str = "_id") -> list[str]:
        """Merge-update; returns ids actually updated (missing ids skipped,
        shard/shard.go:252-256). See apply_update_merge for semantics."""
        updates = updates.withColumnRenamed(id_col, "_id") if id_col != "_id" else updates
        # Duplicate ids in one batch would fan out through the merge join and
        # break the unique-id invariant. The reference applies a batch in
        # request order (sequential keyed writes); a DataFrame has no row
        # order, so "last wins" is undefined — reject, like insert does.
        dup = (
            updates.groupBy("_id").count().filter(F.col("count") > 1).select("_id").head(1)
        )
        if dup:
            raise DuplicatePointError(f"duplicate update id: {dup[0][0]}")
        affected = self._buckets_of(updates.select("_id"))
        existing = self._read_buckets(affected)
        updated_ids = [
            r[0]
            for r in updates.select("_id")
            .join(existing.select("_id"), "_id", "left_semi")
            .collect()
        ]
        if not updated_ids:
            return []
        self._write_snapshot(apply_update_merge(existing, updates), affected=affected)
        return updated_ids

    # -- W3: delete ---------------------------------------------------------
    def delete(self, ids: list[str] | DataFrame) -> list[str]:
        """Delete by id set; missing ids are no-ops (shard/shard.go:506-510).
        Returns ids actually deleted. Left-anti join = the whole operator."""
        if isinstance(ids, DataFrame):
            id_df = ids.select(F.col(ids.columns[0]).alias("_id")).distinct()
        else:
            id_df = local_df(self.spark, [(i,) for i in ids], "_id string").distinct()
        affected = self._buckets_of(id_df)
        existing = self._read_buckets(affected)
        deleted = [
            r[0]
            for r in id_df.join(existing.select("_id"), "_id", "left_semi").collect()
        ]
        if not deleted:
            return []
        remaining = existing.join(F.broadcast(id_df), "_id", "left_anti")
        self._write_snapshot(remaining, affected=affected)
        return deleted
