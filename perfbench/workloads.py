"""The two benchmark workloads.

Each workload is one closed-loop client.  ``setup`` builds its state;
``iteration`` runs one round of timed operations through
:meth:`Recorder.op`, which times the call (the call itself delivers
the whole result) and checks the output outside the timed window;
``finish`` runs the checks that need the whole run, after the timed
window.

Every workload fills the same two roles, so each run reports every
end-to-end metric:

=========  ====================  ======================================
role       ts_ingest_scan        kv_upsert_llm_search
=========  ====================  ======================================
``batch``  one write batch       one streamed merge; one prep pass
``query``  64-series range read  one ``lookup``; one 32-query probe batch
=========  ====================  ======================================

``kv_upsert_llm_search`` runs two clients' op sequences in turn on one
thread: the KV part (:class:`KvStreamUpsert`) and the LLM-pipeline part
(:class:`LlmDedupSearch`).  One iteration runs every op kind of its
workload once, so every kind has samples in every run whatever its
length.

A traced run also times one full scan (``read_simple`` of every series,
``enumerate``) in ``finish``, for the per-layer figures.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.materialize import collect_arrow, drain_noop


def composite(samples: list[tuple[str, float]]) -> float | None:
    """A role's figure: the geometric mean, over the op kinds (spans)
    that fill the role, of each kind's median.  Pooling alternating
    kinds into one median would make it jump between their modes."""
    kinds: dict[str, list[float]] = defaultdict(list)
    for kind, value in samples:
        kinds[kind].append(value)
    if not kinds:
        return None
    logs = [np.log(np.median(v)) for v in kinds.values()]
    return float(np.exp(np.mean(logs)))


class Recorder:
    """Timed samples per role, plus failure accounting."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        #: "plain" in an untraced run; a traced run alternates "traced"
        #: and "bare" iterations to measure the tracing overhead.
        self.mode = "plain"
        self.reset_samples()

    def reset_samples(self) -> None:
        """Drop the warm-up's timings (its failures still count).
        Samples are (op kind, seconds)."""
        self.samples: dict[str, list] = defaultdict(list)
        self.by_mode: dict[str, dict] = defaultdict(lambda: defaultdict(list))
        #: Per iteration, each role's figure over the median of the
        #: reference jobs run right after it.
        self.over_ref: dict[str, list[float]] = defaultdict(list)

    def mark(self) -> dict[str, int]:
        return {role: len(v) for role, v in self.samples.items()}

    def close_iteration(self, mark: dict[str, int]) -> None:
        """Record the iteration that began at ``mark`` in
        :attr:`over_ref`.  The host's speed drifts within a run too, so
        each iteration is set against its own reference jobs."""
        def since(role):
            return composite(self.samples[role][mark.get(role, 0):])
        ref = since("ref")
        for role in ("batch", "query"):
            v = since(role)
            if v is not None and ref:
                self.over_ref[role].append(v / ref)

    @property
    def failed(self) -> int:
        return len(self.failures)

    def fail(self, what: str, why) -> None:
        self.failures.append(f"{what}: {why!r}"[:500])

    def op(self, role: str | None, span: str, fn, check=None, rows=None,
           **attrs):
        """Time ``fn()``; then, outside the timed window, run
        ``check(result)`` (returns an error string or None).  ``rows``
        maps the result to the row count a traced span records."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, **attrs) as sp:
                res = fn()
        except Exception as e:  # counted, never retried
            self.fail(span, e)
            return None
        dt = time.perf_counter() - t0
        if sp is not None and rows is not None:
            sp.attrs["rows"] = rows(res)
        if check is not None:
            try:
                problem = check(res)
            except Exception as e:
                problem = repr(e)
            if problem:
                self.fail(span, problem)
                return res
        if role is not None:
            self.samples[role].append((span, dt))
            self.by_mode[self.mode][role].append((span, dt))
        return res


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _live_parquet_files(path: str) -> int:
    n = 0
    for d, dirs, fs in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        n += sum(1 for f in fs if f.endswith(".parquet"))
    return n


# ------------------------------------------------------------ ts


class TsIngestScan:
    """The reference's own surface as a time-series store serves it:
    appends (alternating ``write_points`` / ``write_encoded``), range
    reads of popular series and periodic ``maintain``."""

    NS = "ts"
    SERIES = 512
    PREFILL = 24_000
    BATCH = 4_000
    #: Small enough that the hot buckets cut a new epoch every few
    #: writes, so a run crosses several epochs.
    ROLLOVER_BYTES = 256 * 1024
    READ_SERIES = 64
    WINDOW_SLOTS = 8_000

    def __init__(self, spark, root: str, seed: int, rec: Recorder):
        from rados_timestore_spark import TimeStore

        self.spark, self.rec = spark, rec
        self.rng = gen.rng_for(seed, "ts-reads")
        self.points = gen.PointStream(seed, self.SERIES)
        self.model = gen.PointModel()
        self.store = TimeStore(spark, f"{root}/store",
                               rollover_bytes=self.ROLLOVER_BYTES)
        self.popular = [int(a) for a in self.points.series[:self.READ_SERIES]]
        self.writes = 0
        self.live_files: list[int] = []
        self.setup_layers: dict[str, float] = {}

    # --- inputs
    def _points_df(self, b: gen.PointBatch):
        pdf = pd.DataFrame({
            "address": pd.array(b.address, dtype="int64"),
            "time": pd.array(b.time, dtype="int64"),
            "value": pd.array(b.value, dtype="Int64"),
            "payload": b.payload,
        })
        return self.spark.createDataFrame(
            pdf, "address long, time long, value long, payload binary")

    def _blobs_df(self, b: gen.PointBatch, n_blobs: int = 4):
        """The batch as ``n_blobs`` wire blobs, in arrival order."""
        from rados_timestore_spark.codec import encode_points

        rows = b.tuples()
        step = -(-len(rows) // n_blobs)
        blobs = [encode_points(rows[i:i + step])
                 for i in range(0, len(rows), step)]
        return self.spark.createDataFrame(
            pd.DataFrame({"blob": blobs}), "blob binary").coalesce(1)

    def setup(self) -> None:
        self.store.register_namespace(self.NS)
        t0 = time.perf_counter()
        b = self.points.batch(self.PREFILL)
        self.store.write_encoded(self.NS, self._blobs_df(b, 8))
        self.model.apply(b)
        self.store.maintain(self.NS)
        self.setup_layers["store.prefill_s"] = time.perf_counter() - t0

    def warmup(self) -> None:
        """One full iteration, discarded: the first calls of each code
        path pay class loading, code generation and Python worker
        start-up."""
        self.iteration(0)

    # --- timed ops
    def _write(self) -> None:
        b = self.points.batch(self.BATCH)
        if self.writes % 2 == 0:
            df = self._points_df(b)
            self.rec.op("batch", "store.write_points",
                        lambda: self.store.write_points(self.NS, df))
        else:
            df = self._blobs_df(b)
            self.rec.op("batch", "store.write_encoded",
                        lambda: self.store.write_encoded(self.NS, df))
        self.model.apply(b)  # a failed write shows up in later reads
        self.writes += 1

    def _read(self, extended: bool) -> None:
        now = self.points.next_slot
        if self.rng.random() < 0.8 or now <= 2 * self.WINDOW_SLOTS:
            lo = max(0, now - self.WINDOW_SLOTS)
        else:
            lo = int(self.rng.integers(0, now - 2 * self.WINDOW_SLOTS))
        start = self.points.time_at(lo)
        end = self.points.time_at(lo + self.WINDOW_SLOTS)
        addrs = self.popular
        if extended:
            fn = lambda: collect_arrow(  # noqa: E731
                self.store.read_extended(self.NS, start, end, addrs))
            col, want_addrs = "payload", [a | 1 for a in addrs]
        else:
            fn = lambda: collect_arrow(  # noqa: E731
                self.store.read_simple(self.NS, start, end, addrs))
            col, want_addrs = "value", addrs
        want = self.model.read(want_addrs, start, end)

        def check(tab):
            got = set(zip(tab.column("address").to_pylist(),
                          tab.column("time").to_pylist(),
                          tab.column(col).to_pylist()))
            if tab.num_rows != len(got) or got != want:
                return (f"{len(got)} rows vs {len(want)} expected, "
                        f"{len(got ^ want)} differ")
            return None
        self.rec.op("query",
                    "store.read_extended" if extended else "store.read_simple",
                    fn, check, rows=lambda t: t.num_rows)

    def _scan(self) -> None:
        addrs = [int(a) for a in self.points.series]
        want = sum(len(s) for a, s in self.model.by_addr.items()
                   if not a & 1)
        self.rec.op(
            None, "store.scan",
            lambda: drain_noop(self.store.read_simple(
                self.NS, 0, 1 << 62, addrs)),
            lambda n: None if n == want else f"{n} rows vs {want}")

    def _maintain(self) -> None:
        self.live_files.append(_live_parquet_files(
            f"{self.store.root}/{self.NS}"))
        self.rec.op(None, "store.maintain",
                    lambda: self.store.maintain(self.NS))

    def iteration(self, i: int) -> None:
        """``write_points``, ``read_simple``, ``write_encoded``,
        ``read_extended``, ``maintain``.  With ``maintain`` in every
        iteration, every iteration's reads see the same number of live
        files, whatever the number of iterations in a run."""
        for extended in (False, True):
            self._write()
            self._read(extended)
        self._maintain()

    def finish(self, traced: bool) -> dict:
        if traced:
            self._scan()
        ns_dir = f"{self.store.root}/{self.NS}"
        return {
            "store.disk_bytes_per_point":
                _dir_bytes(ns_dir) / max(1, self.model.rows()),
            "store.live_files": max(self.live_files, default=0),
            **self.setup_layers,
        }


# ------------------------------------------------------------ kv


class KvStreamUpsert:
    """MutableKV under a file-sourced ``stream_kv_merges``: every write
    rewrites a generation, every read is a point lookup."""

    NS = "kv"
    KEYS = 5_000
    UPDATE_KEYS = 64

    def __init__(self, spark, root: str, seed: int, rec: Recorder):
        from rados_timestore_spark import MutableKV, TimeStore

        self.spark, self.rec, self.root = spark, rec, root
        self.keys = gen.KeyStream(seed, self.KEYS)
        self.model = gen.KVModel()
        self.store = TimeStore(spark, f"{root}/store")
        self.kv = MutableKV(self.store, self.NS)
        self.src = f"{root}/updates"
        self.files = 0
        self.query = None
        self.progress: list[dict] = []
        self.setup_layers: dict[str, float] = {}

    def _updates_df(self, ups):
        return self.spark.createDataFrame(pd.DataFrame({
            "key": pd.array([k for k, _ in ups], dtype="int64"),
            "value": [v for _, v in ups],
            "seq": pd.array(range(len(ups)), dtype="int64"),
        }), "key long, value binary, seq long")

    def setup(self) -> None:
        from rados_timestore_spark.streaming.ingest import stream_kv_merges

        initial = self.keys.initial()
        df = self.spark.createDataFrame(pd.DataFrame({
            "key": pd.array([k for k, _ in initial], dtype="int64"),
            "value": [v for _, v in initial]}), "key long, value binary")
        t0 = time.perf_counter()
        self.kv.insert_bulk(df)
        self.setup_layers["mutable.insert_bulk_s"] = time.perf_counter() - t0
        self.model = gen.KVModel(initial)
        ups = self.keys.updates(self.UPDATE_KEYS)
        self.kv.merge_into(self._updates_df(ups), gen.bounded_merge)
        self.model.merge(ups)
        os.makedirs(self.src)
        source = (self.spark.readStream
                  .schema("key long, value binary, seq long")
                  .parquet(self.src))
        self.query = stream_kv_merges(self.kv, gen.bounded_merge, source,
                                      f"{self.root}/checkpoint")

    def _drop_file(self, ups) -> None:
        tab = pa.table({
            "key": pa.array([k for k, _ in ups], pa.int64()),
            "value": pa.array([v for _, v in ups], pa.binary()),
            "seq": pa.array(range(len(ups)), pa.int64()),
        })
        name = f"u{self.files:05d}.parquet"
        pq.write_table(tab, f"{self.src}/.{name}.tmp")
        os.rename(f"{self.src}/.{name}.tmp", f"{self.src}/{name}")
        self.files += 1

    def _merge(self, n_keys: int = UPDATE_KEYS) -> list[int]:
        ups = self.keys.updates(n_keys)

        def run():
            self._drop_file(ups)
            self.query.processAllAvailable()
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            return self.query.lastProgress
        prog = self.rec.op("batch", "kv.merge", run,
                           keys=len({k for k, _ in ups}))
        if prog:
            self.progress.append(prog)
        self.model.merge(ups)
        return [k for k, _ in ups]

    def _lookup(self, key: int) -> None:
        want = self.model.d.get(key)
        self.rec.op("query", "mutable.lookup", lambda: self.kv.lookup(key),
                    lambda got: None if got == want
                    else f"key {key}: {got!r} != {want!r}")

    def _enumerate(self) -> None:
        want = len(self.model.d)
        self.rec.op(None, "mutable.enumerate",
                    lambda: drain_noop(self.kv.enumerate()),
                    lambda n: None if n == want else f"{n} rows vs {want}")

    def warmup(self) -> None:
        self.iteration(0)
        self.progress.clear()

    def iteration(self, i: int) -> None:
        merged = self._merge()
        self._lookup(merged[int(self.keys.rng.integers(len(merged)))])
        self._lookup(self.keys.random_keys(1)[0])

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def finish(self, traced: bool) -> dict:
        self.stop()
        if traced:
            self._enumerate()
        tab = collect_arrow(self.kv.enumerate())
        got = dict(zip(tab.column("key").to_pylist(),
                       tab.column("value").to_pylist()))
        want = {k | 1: v for k, v in self.model.d.items()}  # keys read back extended
        if got != want:
            self.rec.fail("mutable.enumerate(final)",
                          f"{len(got)} keys vs {len(want)}, "
                          f"{sum(got.get(k) != v for k, v in want.items())} "
                          f"values differ")
        ns_dir = f"{self.store.root}/{self.kv.ns}"
        return {"mutable.disk_bytes_per_key":
                _dir_bytes(ns_dir) / max(1, len(self.model.d)),
                **self.setup_layers}


# ------------------------------------------------------------ llm


PREP_QUERIES = ("text_stats", "dedup_exact", "dedup_minhash_lsh")


def canonical(tab: pa.Table) -> list[tuple]:
    """Order-free, column-order-free form of a result table."""
    cols = sorted(tab.column_names)
    return sorted(zip(*[tab.column(c).to_pylist() for c in cols]))


def _write_documents(c: gen.Corpus, directory: str) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(c.doc_id, pa.int64()), "text": c.text,
        "lang": c.lang, "source": c.source,
        "n_chars": pa.array(c.n_chars, pa.int64())}),
        f"{directory}/documents.parquet")


class LlmDedupSearch:
    """The LLM-data-pipeline extension: a prep pass (``text_stats``,
    ``dedup_exact``, ``dedup_minhash_lsh``) over a corpus with planted
    duplicate families, then a top-10 probe batch against an IVF-PQ
    ``VectorIndex`` or a sharded ``HNSWIndex``, alternately.

    The DuckDB oracle for the prep pass runs on one thread during the
    set-up, on the same generated file; ``finish`` compares."""

    DOCS = 600
    VECTORS = 2_000
    DIM = 32
    QUERIES = 32
    TOPK = 10
    #: k-means routing: the default lowest-id sample trainer leaves the
    #: residual codes with recall@10 near 0.25 on this mixture.
    IVF = {"k": 16, "trainer": "kmeans", "iters": 2,
           "pq": {"m": 8, "ksub": 16, "residual": True}}
    PQ_PROBE = {"nprobe": 4, "rerank": 50}
    HNSW_SHARDS = 4

    def __init__(self, spark, root: str, seed: int, rec: Recorder):
        from rados_timestore_spark.hnsw import HNSWIndex
        from rados_timestore_spark.vector_index import VectorIndex

        self.spark, self.rec, self.root, self.seed = spark, rec, root, seed
        self.data = f"{root}/data"
        self.vi = VectorIndex(spark, f"{root}/ivf")
        self.hn = HNSWIndex(spark, f"{root}/hnsw")
        self.probes = 0
        self.first: dict[str, list] = {}
        self.expected: dict[str, list] = {}
        self.oracle_thread = None
        self.recall: dict[str, list[float]] = defaultdict(list)
        self.setup_layers: dict[str, float] = {}

    def setup(self) -> None:
        from rados_timestore_spark import registry

        self.registry = registry.queries()
        oracle = registry.oracle_sql()
        os.makedirs(self.data)
        _write_documents(gen.documents(self.seed, self.DOCS), self.data)
        self.oracle_thread = threading.Thread(
            target=self._run_oracle, args=(oracle,), name="duckdb-oracle")
        self.oracle_thread.start()
        self.vectors = gen.gaussian_mixture(self.seed, self.VECTORS, self.DIM)
        v = self.vectors
        pq.write_table(pa.table({
            "vec_id": v.ids,
            "embedding": pa.array(list(v.vecs), pa.list_(pa.float32())),
            "label": v.labels}), f"{self.data}/embeddings.parquet")
        emb = self.spark.read.parquet(f"{self.data}/embeddings.parquet")
        t0 = time.perf_counter()
        self.vi.build("emb", emb, **self.IVF)
        t1 = time.perf_counter()
        self.hn.build("emb", emb, shards=self.HNSW_SHARDS)
        t2 = time.perf_counter()
        self.setup_layers["vector_index.build_s"] = t1 - t0
        self.setup_layers["hnsw.build_s"] = t2 - t1

    def _query_batch(self, j: int):
        q = gen.gaussian_mixture(self.seed, self.QUERIES, self.DIM,
                                 id_base=10**9 + j * self.QUERIES,
                                 stream=f"queries-{j}")
        ids, cos = gen.exact_topk(self.vectors, q.vecs, self.TOPK)
        return q, ids, cos

    def _check_ann(self, tab: pa.Table, q, exact_ids, kind: str):
        d = tab.to_pydict()
        by_q: dict[int, list] = defaultdict(list)
        for qid, nid, cos, rank in zip(d["query_id"], d["neighbor_id"],
                                       d["cos"], d["rank"]):
            by_q[qid].append((rank, nid, cos))
        qpos = {int(x): i for i, x in enumerate(q.ids)}
        vid = {int(x): i for i, x in enumerate(self.vectors.ids)}
        if set(by_q) != set(qpos):
            return f"answered {len(by_q)} of {len(qpos)} queries"
        hits = 0
        for qid, rows in by_q.items():
            rows.sort()
            if [r for r, _, _ in rows] != list(range(1, self.TOPK + 1)):
                return f"query {qid}: ranks {[r for r, _, _ in rows]}"
            nids = [n for _, n, _ in rows]
            if len(set(nids)) != len(nids) or not set(nids) <= vid.keys():
                return f"query {qid}: bad neighbour ids"
            qv = q.vecs[qpos[qid]]
            for _, n, c in rows:
                if abs(c - gen.cosine(qv, self.vectors.vecs[vid[n]])) > 1e-6:
                    return f"query {qid}: cos of {n} is {c}"
            if any(a[2] < b[2] - 1e-12 for a, b in zip(rows, rows[1:])):
                return f"query {qid}: cos not ranked"
            hits += len(set(nids) & set(exact_ids[qpos[qid]].tolist()))
        self.recall[kind].append(hits / (len(by_q) * self.TOPK))
        return None

    def _queries_df(self, q):
        return self.spark.createDataFrame(pd.DataFrame({
            "query_id": q.ids, "qe": list(q.vecs.astype(np.float64))}),
            "query_id long, qe array<double>")

    def _probe(self) -> None:
        q, exact_ids, _ = self._query_batch(self.probes)
        if self.probes % 2 == 0:
            kind = "vector_index"
            queries = [(int(i), [float(x) for x in v])
                       for i, v in zip(q.ids, q.vecs)]
            fn = lambda: collect_arrow(self.vi.probe_pq(  # noqa: E731
                "emb", queries, topk=self.TOPK, **self.PQ_PROBE))
            span = "vector_index.probe_pq"
        else:
            kind = "hnsw"
            qdf = self._queries_df(q)
            fn = lambda: collect_arrow(self.hn.probe_df(  # noqa: E731
                "emb", qdf, topk=self.TOPK))
            span = "hnsw.probe_df"
        self.probes += 1
        self.rec.op("query", span, fn,
                    lambda tab: self._check_ann(tab, q, exact_ids, kind))

    def _run_oracle(self, oracle: dict) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.sql("SET threads = 1")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.data}/documents.parquet'")
            for name in PREP_QUERIES:
                self.expected[name] = canonical(con.sql(oracle[name]).arrow())
        finally:
            con.close()

    def _check_prep(self, tabs: dict) -> str | None:
        """Every pass must return what the first pass returned; the
        first pass is checked against the DuckDB oracle in finish()."""
        for name, tab in tabs.items():
            rows = canonical(tab)
            if rows != self.first.setdefault(name, rows):
                return f"{name} changed between passes"
        return None

    def _prep_pass(self) -> None:
        """The three registry queries in order, each collected in full
        before the next registry call (the registry's one-action
        contract)."""
        def run():
            out = {}
            for name in PREP_QUERIES:
                layer = "queries_text" if name == "text_stats" \
                    else "queries_dedup"
                with self.rec.tracer.span(f"{layer}.{name}"):
                    out[name] = collect_arrow(
                        self.registry[name](self.spark, self.data))
            return out
        self.rec.op("batch", "llm.prep_pass", run, self._check_prep)

    def warmup(self) -> None:
        """One full iteration, discarded: a small corpus leaves the
        near-duplicate paths of ``dedup_minhash_lsh`` cold, and the
        first timed pass ran 30% slow."""
        self.iteration(0)

    def iteration(self, i: int) -> None:
        """One prep pass, then one probe batch of each index kind."""
        self._prep_pass()
        self._probe()
        self._probe()

    def stop(self) -> None:
        if self.oracle_thread is not None:
            self.oracle_thread.join()

    def finish(self, traced: bool) -> dict:
        self.stop()
        for name in PREP_QUERIES:
            want = self.expected.get(name)
            if want is None:
                self.rec.fail(f"{name}(oracle)", "the DuckDB oracle failed")
            elif name in self.first and self.first[name] != want:
                self.rec.fail(f"{name}(oracle)",
                              f"{len(self.first[name])} rows vs {len(want)} "
                              f"from the DuckDB oracle")
        return {
            "vector_index.recall_at_10": float(np.mean(
                self.recall["vector_index"] or [0.0])),
            "hnsw.recall_at_10": float(np.mean(self.recall["hnsw"] or [0.0])),
            **self.setup_layers,
        }


# ------------------------------------------------------------ kv + llm


class KvUpsertLlmSearch:
    """The KV part and the LLM-pipeline part in turn, on one client
    thread: a streamed merge and two lookups, then a prep pass and a
    probe batch of each index kind.  The two parts share no engine
    state; they share one workload so that a run is long enough for
    both while set-up is paid once."""

    def __init__(self, spark, root: str, seed: int, rec: Recorder):
        self.kv = KvStreamUpsert(spark, f"{root}/kv", seed, rec)
        self.llm = LlmDedupSearch(spark, f"{root}/llm", seed, rec)

    @property
    def progress(self) -> list[dict]:
        return self.kv.progress

    def setup(self) -> None:
        self.kv.setup()
        self.llm.setup()

    def warmup(self) -> None:
        self.kv.warmup()
        self.llm.warmup()

    def iteration(self, i: int) -> None:
        self.kv.iteration(i)
        self.llm.iteration(i)

    def stop(self) -> None:
        self.kv.stop()
        self.llm.stop()

    def finish(self, traced: bool) -> dict:
        return {**self.kv.finish(traced), **self.llm.finish(traced)}


WORKLOADS = {
    "ts_ingest_scan": TsIngestScan,
    "kv_upsert_llm_search": KvUpsertLlmSearch,
}
