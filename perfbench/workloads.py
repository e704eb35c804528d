"""The benchmark's workloads, their correctness checks and their metrics.

Both workloads are closed loops: the library is a synchronous call, so each
client sends its next request when the previous one returns.

- ``read_mix``: the serving tier. One collection (text + string + int +
  64-d vector, text index and Vamana graph built) is read in three time
  slices, run twice over in alternation: 1 client through ``search_local``
  on the hybrid mix (exact vector legs), 1 client through
  ``search_local(vector_mode="graph")`` on held-out vectors, and 2 client
  threads through a ``HybridServePool`` of nproc/2 workers on the hybrid mix.
- ``write_then_read``: writes beside reads. Warm ``route="auto"`` reads,
  then two rounds of one 50-row insert, update and delete,
  ``refresh_text_index``, verified fresh ``route="auto"`` reads, and more
  warm reads. After the
  window: ``route="spark"`` checks and ``vacuum(keep_versions=2)``.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import resource
import statistics
import threading
import time

import numpy as np

import gen
from spans import Tracer, job_group

READ_ROWS = 2000
WRITE_ROWS = 4000
N_HYBRID = 96  # distinct hybrid requests, cycled
N_GRAPH = 96  # distinct held-out graph queries, cycled
SPARK_CHECKS = 4  # first requests of the mix (one per shape) via route="spark"
DML_ROWS = 50
DML_ROUNDS = 2  # write_then_read insert/update/delete rounds per run
WARM_BLOCK = 200  # write_then_read warm route="auto" reads per block, at least
NUM_BUCKETS = 8
LOAD_BATCHES = 3  # read_mix bulk-loads in this many insert calls
TRACE_BLOCK = 16  # traced runs alternate untraced/traced blocks of reads
ROUNDS = 2  # read_mix runs its three slices this many times, alternating
POOL_CLIENTS = 2
SCORE_TOL = 1e-6

perf = time.perf_counter


def _pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0


def _digest(pdf) -> str:
    ids = pdf["_id"].tolist()
    scores = np.round(pdf["_hybridScore"].to_numpy(dtype=float), 6).tolist()
    return hashlib.sha1(repr((ids, scores)).encode()).hexdigest()


def _same_answer(a, b) -> bool:
    """Same ids in the same order and the same hybrid scores."""
    if a["_id"].tolist() != b["_id"].tolist():
        return False
    return bool(np.allclose(a["_hybridScore"].to_numpy(dtype=float),
                            b["_hybridScore"].to_numpy(dtype=float),
                            rtol=SCORE_TOL, atol=SCORE_TOL, equal_nan=True))


def _overlap_at_10(got, truth) -> float | None:
    truth = list(truth)[:10]
    if not truth:
        return None
    return len(set(list(got)[:10]) & set(truth)) / len(truth)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _space_amp(coll) -> float:
    """Bytes under the collection directory / parquet bytes of the live
    snapshot (the files the current snapshot's DataFrame reads)."""
    from urllib.parse import urlparse

    live = sum(os.path.getsize(urlparse(u).path) for u in coll.df().inputFiles())
    return _dir_bytes(coll.path) / live


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Ctx:
    """State of one run: inputs, counters, the session, the pool, spans."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed = seed
        self.seconds = float(seconds)
        self.work = work
        self.tracer = Tracer() if traced else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: list[str] = []
        self.setup: dict[str, float] = {}
        self.spark = None
        self.pool = None
        self._lock = threading.Lock()

    # -- bookkeeping ---------------------------------------------------------
    def fail(self, why: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why)

    def call(self, fn, *args, **kwargs):
        """One attempted operation: returns (result, seconds), or
        (None, None) when it raised, counted as failed."""
        with self._lock:
            self.attempted += 1
        t0 = perf()
        try:
            out = fn(*args, **kwargs)
        except Exception as e:  # a failed operation is a measured outcome
            self.fail(f"{getattr(fn, '__name__', fn)}: {type(e).__name__}: {e}")
            return None, None
        return out, perf() - t0

    def expect(self, ok: bool, why: str) -> None:
        """A wrong answer of an operation already counted as attempted."""
        if not ok:
            self.fail(f"wrong answer: {why}")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def request(self, rid: str):
        return self.tracer.request(rid) if self.tracer else contextlib.nullcontext()

    def traced(self, on: bool) -> None:
        if self.tracer:
            self.tracer.install() if on else self.tracer.uninstall()

    @contextlib.contextmanager
    def setup_step(self, name: str):
        t0 = perf()
        with self.request("setup"):
            yield
        self.setup[name] = perf() - t0

    def jobs(self, name: str, out: dict):
        if self.tracer is None:
            return contextlib.nullcontext()
        return job_group(self.spark, name, out)

    # -- session -------------------------------------------------------------
    def start_spark(self):
        """local[nproc] with the driver heap sized from MemTotal and every
        scratch path inside this run's directory."""
        from semadb_spark import get_spark

        tmp = os.path.join(self.work, "tmp")
        cpus = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        driver_gb = max(1, min(4, mem_kb // (8 * 1024 * 1024)))
        with self.setup_step("session"), self.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench", cpus=cpus, driver_memory=f"{driver_gb}g",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": tmp,
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
        return self.spark

    def close(self) -> None:
        """Close the pool and stop the JVM on every path; wait for both."""
        if self.tracer:
            self.tracer.uninstall()
        try:
            if self.pool is not None:
                self.pool.close()
                self.pool = None
        finally:
            self._stop_processes()

    def _stop_processes(self) -> None:
        import multiprocessing.forkserver as fs
        import multiprocessing.resource_tracker as rt
        import subprocess

        # the pool's start-method helpers are our children too
        fs._forkserver._stop()
        rt._resource_tracker._stop()
        if self.spark is not None:
            from pyspark import SparkContext

            spark, self.spark = self.spark, None
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            try:
                spark.stop()
                gw.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()

    # -- result --------------------------------------------------------------
    def note(self, line: str) -> None:
        self.report.append(line)

    def finish(self, e2e: dict, layers: dict) -> dict:
        """Report lines with sample counts; the metrics the mode prints."""
        for name, (value, unit, n) in {**e2e, **layers}.items():
            self.note(f"  {name:<38} {value:>14.4f} {unit:<6} n={n}")
        for why in self.errors:
            self.note(f"  error: {why}")
        chosen = layers if self.tracer else e2e
        return {k: {"value": float(v), "unit": u} for k, (v, u, _) in chosen.items()}


# -- per-layer metrics from spans ---------------------------------------------

def _first_search_ms(tr: Tracer) -> list[float]:
    """The first engine search that starts after each engine build."""
    inits = tr.select("local_engine.init")
    searches = tr.select("local_engine.search")
    out = []
    for i in inits:
        end = tr.spans[i].end
        later = [s for s in searches if tr.spans[s].start >= end]
        if later:
            out.append(tr.spans[min(later, key=lambda s: tr.spans[s].start)].ms)
    return out


def layer_metrics(ctx: Ctx, reads: dict) -> dict:
    """Every per-layer metric, (value, unit, samples). ``reads`` holds what
    the workload measured beside the spans: ``prefixes`` (request-id
    prefixes of the measured local reads; ``text_prefixes`` and
    ``vamana_prefixes`` pick the reads each leg metric is mapped to),
    ``client_ms`` (client latency of the traced local reads),
    ``untraced_ms``/``traced_ms`` (same-run blocks for the tracing
    overhead), ``pool_overhead_ms``, ``spark`` (per-query job and stage
    counts), ``spark_s`` (route="spark" wall times), ``dml`` (per-write
    jobs, bytes, rows)."""
    tr = ctx.tracer
    kids = tr.children()

    def sel(name, prefixes):
        return [i for p in prefixes for i in tr.select(name, p)]

    def ms_of(name, prefix=""):
        return [tr.spans[i].ms for i in tr.select(name, prefix)]

    def pct(ms, q):
        return (_pct(ms, q), "ms", len(ms))

    def legs(leg: str, prefixes) -> tuple[list[float], int, float]:
        """A leg's span times over the engine searches it serves."""
        searches = sel("local_engine.search", prefixes)
        ms = [tr.spans[i].ms for i in sel(leg, prefixes)]
        total = sum(tr.spans[i].ms for i in searches) or 1.0
        return ms, max(1, len(searches)), sum(ms) / total

    searches = sel("local_engine.search", reads["prefixes"])
    search_ms = [tr.spans[i].ms for i in searches]
    self_ms = [tr.self_ms(i, kids) for i in searches]
    text_ms, text_n, text_share = legs("text_search.serve", reads["text_prefixes"])
    vam_ms, vam_n, vam_share = legs("vamana.serve", reads["vamana_prefixes"])
    local_calls = tr.select("collection.search_local")
    unsupported = [i for i in local_calls
                   if tr.spans[i].error == "LocalServeUnsupported"]

    def setup_s(name):
        xs = [ms / 1000 for ms in ms_of(name, "setup")]
        return (sum(xs), "s", len(xs))

    pool_ms = ms_of("pool.search", "p")
    spark = reads["spark"]
    dml = reads["dml"]
    dml_rows = sum(d["rows"] for d in dml)
    client = reads["client_ms"]
    untraced, traced = reads["untraced_ms"], reads["traced_ms"]
    return {
        "session.start_s": setup_s("session.get_spark"),
        "collection.insert_s": setup_s("collection.insert"),
        "collection.build_text_index_s": setup_s("collection.build_text_index"),
        "collection.build_vamana_index_s": setup_s("collection.build_vamana_index"),
        "pool.spawn_s": (ctx.setup.get("pool", 0.0), "s",
                         int("pool" in ctx.setup)),
        "local_engine.search_ms.p50": pct(search_ms, 50),
        "local_engine.search_ms.p99": pct(search_ms, 99),
        "local_engine.self_ms.p50": pct(self_ms, 50),
        "local_engine.init_ms.p50": pct(ms_of("local_engine.init"), 50),
        "local_engine.first_search_ms.p50": pct(_first_search_ms(tr), 50),
        "local_engine.served_local_ratio": (
            1.0 - len(unsupported) / max(1, len(local_calls)), "ratio",
            len(local_calls)),
        "tracing.span_coverage": (
            sum(search_ms) / (sum(client) or 1.0), "ratio", len(client)),
        "text_search.calls_per_req": (len(text_ms) / text_n, "count", text_n),
        "text_search.serve_ms.p50": pct(text_ms, 50),
        "text_search.serve_ms.p99": pct(text_ms, 99),
        "text_search.share": (text_share, "ratio", text_n),
        "vamana.calls_per_req": (len(vam_ms) / vam_n, "count", vam_n),
        "vamana.serve_ms.p50": pct(vam_ms, 50),
        "vamana.serve_ms.p99": pct(vam_ms, 99),
        "vamana.share": (vam_share, "ratio", vam_n),
        "collection.refresh_text_index_ms.p50": pct(
            ms_of("collection.refresh_text_index", "w"), 50),
        "collection.insert_ms.p50": pct(ms_of("collection.insert", "w"), 50),
        "collection.update_ms.p50": pct(ms_of("collection.update", "w"), 50),
        "collection.delete_ms.p50": pct(ms_of("collection.delete", "w"), 50),
        "collection.spark_jobs_per_write": (
            sum(d["jobs"] for d in dml) / max(1, len(dml)), "count", len(dml)),
        "collection.bytes_written_per_row": (
            sum(d["bytes"] for d in dml) / max(1, dml_rows), "bytes", len(dml)),
        "collection.vacuum_ms.p50": pct(ms_of("collection.vacuum", "w"), 50),
        "compiler.query_ms.p50": pct([1000 * x for x in reads["spark_s"]], 50),
        "compiler.plan_ms.p50": pct(ms_of("compiler.plan"), 50),
        "compiler.exec_ms.p50": pct(ms_of("compiler.exec"), 50),
        "compiler.jobs_per_query": (
            sum(s["jobs"] for s in spark) / max(1, len(spark)), "count", len(spark)),
        "compiler.stages_per_query": (
            sum(s["stages"] for s in spark) / max(1, len(spark)), "count",
            len(spark)),
        "pool.request_ms.p50": pct(pool_ms, 50),
        "pool.request_ms.p99": pct(pool_ms, 99),
        "pool.overhead_ms.p50": pct(reads["pool_overhead_ms"], 50),
        "tracing.overhead_pct": (
            100.0 * (_pct(traced, 50) / _pct(untraced, 50) - 1.0)
            if untraced and traced else 0.0, "%", len(traced) + len(untraced)),
    }


# -- shared phases -------------------------------------------------------------

def _load(ctx: Ctx, corpus, name: str, batches: int = 1):
    """Create the collection and bulk-load the corpus in ``batches`` insert
    calls; returns (collection, seconds of each insert call)."""
    from semadb_spark import Collection

    path = os.path.join(ctx.work, name)
    insert_s = []
    with ctx.setup_step("load"):
        coll = Collection.create(ctx.spark, path, gen.HYBRID_SCHEMA,
                                 num_buckets=NUM_BUCKETS)
        for part in np.array_split(np.arange(len(corpus.frame)), batches):
            frame = ctx.spark.createDataFrame(corpus.frame.iloc[part],
                                              gen.FRAME_DDL)
            t0 = perf()
            coll.insert(frame)
            insert_s.append(perf() - t0)
    n = coll.count()
    if n != len(corpus.frame):
        raise RuntimeError(f"bulk load stored {n} of {len(corpus.frame)} rows")
    return coll, insert_s


def _spark_query(ctx: Ctx, coll, req: dict, rid: str, counts: list):
    """route="spark": plan (Collection.search) then execute (.toPandas()).
    Returns (pandas frame, seconds) or (None, None) when it raised."""
    out: dict = {}

    def run():
        with ctx.jobs(rid, out):
            with ctx.span("compiler.plan"):
                df = coll.search(req, route="spark")
            with ctx.span("compiler.exec"):
                return df.toPandas()

    with ctx.request(rid):
        pdf, dt = ctx.call(run)
    if out:
        counts.append(out)
    return pdf, dt


# -- read_mix ------------------------------------------------------------------

def read_mix(ctx: Ctx) -> dict:
    from semadb_spark import Collection

    seed = ctx.seed
    corpus = gen.make_corpus(seed, READ_ROWS)
    hreqs = gen.hybrid_requests(seed, corpus, N_HYBRID)
    gq = gen.held_out_queries(seed, corpus, N_GRAPH, stream=1)
    greqs = gen.graph_requests(gq)
    X = corpus.X.astype(np.float64)
    ids = corpus.frame["_id"].to_numpy()
    truth = []  # NumPy brute-force oracle: the exact top-10 ids per query
    for q in gq.astype(np.float64):
        d = ((X - q) ** 2).sum(axis=1)
        top = np.argsort(d, kind="stable")[:10]
        truth.append(ids[top].tolist())
    workers = max(1, len(os.sched_getaffinity(0)) // 2)

    # -- set-up (timed): session, load, indexes, pool ----------------------
    ctx.traced(True)
    ctx.start_spark()
    coll, insert_s = _load(ctx, corpus, "read_coll", batches=LOAD_BATCHES)
    written = perf()
    with ctx.setup_step("text_index"):
        coll.build_text_index()
    local = {}
    with ctx.request("warm"):
        first, _ = ctx.call(coll.search_local, hreqs[0])
    fresh_s = perf() - written
    with ctx.setup_step("vamana_index"):
        coll.build_vamana_index("v", num_shards=1, seed=seed,
                                max_shard_rows=16000, build_mode="batch",
                                build_passes=1)
    with ctx.setup_step("pool"):
        ctx.pool = coll.open_search_pool(workers=workers,
                                         warm_requests=hreqs[:2])
        pool_first = ctx.pool.search_many(hreqs[: 2 * workers])

    # -- warm-up (untimed): reference answers for every request ------------
    with ctx.request("warm"):
        for i, r in enumerate(hreqs):
            pdf, _ = ctx.call(coll.search_local, r) if i else (first, 0)
            if pdf is not None:
                local[i] = pdf
        gcoll = Collection.open(ctx.spark, coll.path)
        for r in greqs[:8]:
            ctx.call(gcoll.search_local, r, vector_mode="graph", graph_nprobe=1)
    digests = {i: _digest(p) for i, p in local.items()}
    for i, pdf in enumerate(pool_first):
        ctx.attempted += 1
        ctx.expect(_digest(pdf) == digests.get(i), f"pool warm answer {i}")

    lat: list[float] = []
    lat_by_req: dict[int, list[float]] = {}
    client_ms: list[float] = []
    untraced_ms: list[float] = []
    traced_ms: list[float] = []
    recalls: list[float] = []
    pool_lat: list[tuple[int, float]] = []
    row = {k: n for n, k in enumerate(ids)}
    count = {"h": 0, "g": 0, "p": 0}

    def hybrid_slice(deadline: float) -> None:
        """1 client, search_local, exact vector legs."""
        while perf() < deadline:
            i = count["h"]
            count["h"] += 1
            on = bool(ctx.tracer) and (i // TRACE_BLOCK) % 2 == 1
            if i % TRACE_BLOCK == 0:
                ctx.traced(on)
            j = i % N_HYBRID
            with ctx.request(f"h{i}"):
                pdf, dt = ctx.call(coll.search_local, hreqs[j])
            if pdf is None:
                continue
            lat.append(dt)
            lat_by_req.setdefault(j, []).append(dt)
            (traced_ms if on else untraced_ms).append(1000 * dt)
            if on:
                client_ms.append(1000 * dt)
            ctx.expect(_digest(pdf) == digests.get(j), f"hybrid repeat {j}")
        ctx.traced(True)

    def graph_slice(deadline: float) -> None:
        """1 client, packed-graph beam, recall vs brute force."""
        while perf() < deadline:
            i = count["g"]
            count["g"] += 1
            j = i % N_GRAPH
            with ctx.request(f"g{i}"):
                pdf, dt = ctx.call(gcoll.search_local, greqs[j],
                                   vector_mode="graph", graph_nprobe=1)
            if pdf is None:
                continue
            lat.append(dt)
            if ctx.tracer:
                client_ms.append(1000 * dt)
            got = pdf["_id"].tolist()
            recalls.append(_overlap_at_10(got, truth[j]))
            true_d = [float(((X[row[k]] - gq[j]) ** 2).sum()) for k in got]
            ctx.expect(
                len(got) == 10 and len(set(got)) == 10
                and np.allclose(pdf["_distance"].to_numpy(dtype=float), true_d,
                                rtol=1e-4, atol=1e-4),
                f"graph answer {j}: ids or distances")

    def pool_slice(deadline: float) -> None:
        """POOL_CLIENTS threads on the worker pool."""

        def client(k: int) -> None:
            i = k
            while perf() < deadline:
                j = i % N_HYBRID
                with ctx.request(f"p{count['p']}-{i}"):
                    pdf, dt = ctx.call(ctx.pool.search, hreqs[j])
                i += POOL_CLIENTS
                if pdf is None:
                    continue
                with ctx._lock:
                    pool_lat.append((j, dt))
                ctx.expect(_digest(pdf) == digests.get(j), f"pool answer {j}")

        threads = [threading.Thread(target=client, args=(k,))
                   for k in range(POOL_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        count["p"] += 1

    # the slices alternate in rounds, so each one samples the whole window
    slice_s = ctx.seconds / (3 * ROUNDS)
    window0 = perf()
    for _ in range(ROUNDS):
        for run_slice in (hybrid_slice, graph_slice, pool_slice):
            run_slice(perf() + slice_s)
    window_s = perf() - window0
    lat.extend(dt for _, dt in pool_lat)

    # -- after the window: route="spark" on the first shapes of the mix ----
    spark_s, spark_counts = [], []
    for j in range(SPARK_CHECKS):
        pdf, dt = _spark_query(ctx, coll, hreqs[j], f"s{j}", spark_counts)
        if pdf is None:
            continue
        spark_s.append(dt)
        ctx.expect(j in local and _same_answer(pdf, local[j]),
                   f"search_local vs route=spark on request {j}")

    e2e = {
        "setup_s": (sum(ctx.setup.values()), "s", 1),
        "read_qps": (len(lat) / window_s, "req/s", len(lat)),
        "read_p50_ms": (1000 * _pct(lat, 50), "ms", len(lat)),
        "read_p90_ms": (1000 * _pct(lat, 90), "ms", len(lat)),
        "recall_at_10": (float(np.mean(recalls)) if recalls else 0.0, "ratio",
                         len(recalls)),
        "write_p50_ms": (1000 * _median(insert_s), "ms", len(insert_s)),
        "fresh_read_p50_ms": (1000 * fresh_s, "ms", 1),
        "space_amp": (_space_amp(coll), "ratio", 1),
        "driver_rss_mb": (_rss_mb(), "MB", 1),
    }
    layers = {}
    if ctx.tracer:
        local_p50 = {j: _median(v) for j, v in lat_by_req.items()}
        layers = layer_metrics(ctx, {
            "prefixes": ("h", "g"),
            "text_prefixes": ("h",),
            "vamana_prefixes": ("g",),
            "client_ms": client_ms,
            "untraced_ms": untraced_ms,
            "traced_ms": traced_ms,
            "pool_overhead_ms": [1000 * (dt - local_p50[j])
                                 for j, dt in pool_lat if j in local_p50],
            "spark": spark_counts,
            "spark_s": spark_s,
            "dml": [],
        })
    ctx.note(f"read_mix seed={seed} rows={READ_ROWS} workers={workers} "
             f"window={window_s:.2f}s setup={ctx.setup}")
    return ctx.finish(e2e, layers)


# -- write_then_read -----------------------------------------------------------

def _text_request(token: str) -> dict:
    return {"query": {"property": "body", "text": {
        "operator": "containsAny", "value": token, "limit": 75}}, "limit": 75}


def _ids_request(ids: list[str]) -> dict:
    return {"query": {"property": "_id", "stringArray": {
        "operator": "containsAny", "value": ids}}, "limit": 75}


def write_then_read(ctx: Ctx) -> dict:
    seed = ctx.seed
    corpus = gen.make_corpus(seed, WRITE_ROWS)
    hreqs = gen.hybrid_requests(seed, corpus, N_HYBRID)
    originals = corpus.frame["_id"].tolist()
    bodies = dict(zip(originals, corpus.frame["body"]))

    ctx.traced(True)
    spark = ctx.start_spark()
    coll, _ = _load(ctx, corpus, "write_coll")
    with ctx.setup_step("text_index"):
        coll.build_text_index()
    with ctx.request("warm"):
        for r in hreqs[:4]:
            ctx.call(coll.search, r, route="auto")

    # the write batches are built before the clock starts; each round
    # touches rows no earlier round updated or deleted
    steps, fresh, touched = [], [], set()
    for rnd in range(DML_ROUNDS):
        live = [i for i in originals if i not in touched]
        ins = gen.insert_batch(seed, corpus, DML_ROWS, rnd)
        upd = gen.update_batch(seed, live, DML_ROWS, bodies, rnd)
        touched |= set(upd["_id"])
        dels = gen.delete_ids(seed, live, touched, DML_ROWS, rnd)
        touched |= set(dels)
        steps += [
            ("insert", coll.insert, spark.createDataFrame(ins, gen.FRAME_DDL)),
            ("update", coll.update,
             spark.createDataFrame(upd, "_id string, body string, n long")),
            ("delete", coll.delete, dels),
        ]
        fresh += [
            (_text_request(gen.marker("i", rnd)), set(ins["_id"]), None),
            (_text_request(gen.marker("u", rnd)), set(upd["_id"]), gen.N_RANGE),
            (_ids_request(dels), set(), None),
        ]
    write_s, lat, recalls, spark_s = [], [], [], []
    untraced_ms, traced_ms, client_ms = [], [], []
    spark_counts, dml = [], []

    def warm_block(tag: str, least: int, until: float) -> dict:
        """Warm route="auto" reads of the hybrid mix; returns the first
        answer to each request."""
        answers: dict = {}
        k = 0
        while perf() < until or k < least:
            on = bool(ctx.tracer) and (k // TRACE_BLOCK) % 2 == 1
            if k % TRACE_BLOCK == 0:
                ctx.traced(on)
            j = k % N_HYBRID
            with ctx.request(f"r{tag}{k}"):
                pdf, dt = ctx.call(coll.search, hreqs[j], route="auto")
            k += 1
            if pdf is None:
                continue
            lat.append(dt)
            (traced_ms if on else untraced_ms).append(1000 * dt)
            if on:
                client_ms.append(1000 * dt)
            answers.setdefault(j, pdf)
            ctx.expect(len(pdf) <= 10 and pdf["_id"].is_unique,
                       f"warm read {j} shape")
        ctx.traced(True)
        return answers

    # the window: a first warm block on the loaded snapshot, the writes, a
    # second warm block on the written one. Reads on both sides of the
    # writes sample the host at two points of the run.
    deadline = perf() + ctx.seconds
    window0 = perf()
    warm_block("a", WARM_BLOCK, 0.0)

    for kind, fn, arg in steps:
        before = _dir_bytes(coll.path) if ctx.tracer else 0
        out: dict = {}
        with ctx.request(f"w-{kind}"), ctx.jobs(kind, out):
            res, dt = ctx.call(fn, arg)
        if res is None:
            continue
        write_s.append(dt)
        if ctx.tracer:
            dml.append({"jobs": out["jobs"], "rows": DML_ROWS,
                        "bytes": _dir_bytes(coll.path) - before})
    written = perf()

    # fresh read: text index maintenance, then route="auto" reads that must
    # show every write of every round
    with ctx.request("w-refresh"):
        ctx.call(coll.refresh_text_index, "body")
    fresh_ok = True
    for k, (req, want, n_value) in enumerate(fresh):
        with ctx.request(f"f{k}"):
            pdf, _ = ctx.call(coll.search, req, route="auto")
        if pdf is None:
            fresh_ok = False
            continue
        ok = set(pdf["_id"]) == want
        if n_value is not None:
            ok = ok and bool((pdf["n"] == n_value).all())
        ctx.expect(ok, f"fresh read {k} after the insert/update/delete rounds")
    fresh_s = perf() - written

    # second warm block: until the window closes, at least WARM_BLOCK reads;
    # its answers are the ones checked against route="spark"
    auto_first = warm_block("b", WARM_BLOCK, deadline)
    window_s = perf() - window0

    # after the window: route="spark" vs route="auto", then vacuum
    for j in range(SPARK_CHECKS):
        pdf, dt = _spark_query(ctx, coll, hreqs[j], f"s{j}", spark_counts)
        if pdf is None:
            continue
        spark_s.append(dt)
        ctx.expect(j in auto_first and _same_answer(pdf, auto_first[j]),
                   f"route=auto vs route=spark on request {j}")
        if j in auto_first:
            r = _overlap_at_10(auto_first[j]["_id"], pdf["_id"])
            if r is not None:
                recalls.append(r)
    with ctx.request("w-vacuum"):
        ctx.call(coll.vacuum, keep_versions=2)

    warm_s = sum(lat)
    e2e = {
        "setup_s": (sum(ctx.setup.values()), "s", 1),
        "read_qps": (len(lat) / warm_s if warm_s else 0.0, "req/s", len(lat)),
        "read_p50_ms": (1000 * _pct(lat, 50), "ms", len(lat)),
        "read_p90_ms": (1000 * _pct(lat, 90), "ms", len(lat)),
        "recall_at_10": (float(np.mean(recalls)) if recalls else 0.0, "ratio",
                         len(recalls)),
        "write_p50_ms": (1000 * _median(write_s), "ms", len(write_s)),
        "fresh_read_p50_ms": (1000 * fresh_s if fresh_ok else 0.0, "ms",
                              int(fresh_ok)),
        "space_amp": (_space_amp(coll), "ratio", 1),
        "driver_rss_mb": (_rss_mb(), "MB", 1),
    }
    layers = {}
    if ctx.tracer:
        layers = layer_metrics(ctx, {
            "prefixes": ("r",),
            "text_prefixes": ("r",),
            "vamana_prefixes": ("r",),
            "client_ms": client_ms,
            "untraced_ms": untraced_ms,
            "traced_ms": traced_ms,
            "pool_overhead_ms": [],
            "spark": spark_counts,
            "spark_s": spark_s,
            "dml": dml,
        })
    ctx.note(f"write_then_read seed={seed} rows={WRITE_ROWS} "
             f"window={window_s:.2f}s setup={ctx.setup}")
    return ctx.finish(e2e, layers)


RUNNERS = {"read_mix": read_mix, "write_then_read": write_then_read}
