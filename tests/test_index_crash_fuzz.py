"""Strided kill-point crash fuzz for both persisted vector indexes.

Harness + rationale: :mod:`tests.crash_fuzz_harness`.  The exhaustive
every-boundary sweep is ``tools/index_crash_fuzz.py`` (run per round,
recorded in BENCH_NOTES.md); this strided subset keeps the law under
continuous test at ~4 boundaries per index, always including the
first and last mutation — the windows targeted by the r10/r11 ADVICE
fixes sit between verbs, which a stride this dense always straddles.
The slow set runs the 4-point stride; the default run replays one
boundary per index, a kill inside the first directory swap, so the
swap recovery is exercised on every run.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.crash_fuzz_harness import (
    crash_at, dry_run, first_swap_window, recover_and_replay,
)

SF = "/root/testdata/sf0.001"


def _emb(spark, n=150):
    return (spark.read.parquet(f"{SF}/embeddings.parquet")
            .filter(F.col("vec_id") < n))


def _strides(total: int, points: int = 4) -> list[int]:
    ks = {0, total - 1}
    for i in range(1, points - 1):
        ks.add(i * total // (points - 1))
    return sorted(ks)


#: ``points`` for the two strided tests: ``None`` replays the single
#: swap-window boundary (default run), 4 is the slow stride.
_POINTS = [pytest.param(None, id="swap_window"),
           pytest.param(4, id="stride4", marks=pytest.mark.slow)]


def _fuels(log: list, points: int | None) -> list[int]:
    if points is None:
        return [first_swap_window(log)]
    return _strides(len(log), points)


def _queries(spark, n=3):
    rows = (spark.read.parquet(f"{SF}/embeddings.parquet")
            .filter(F.col("vec_id") < n).collect())
    return [(r.vec_id, np.asarray(r.embedding, dtype=np.float64))
            for r in rows]


@pytest.mark.parametrize("points", _POINTS)
def test_hnswidx_crash_fuzz_strided(spark, tmp_path, points):
    from rados_timestore_spark.hnsw import HNSWIndex

    emb = _emb(spark)
    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    victims = [r.vec_id for r in
               emb.filter(F.col("vec_id") % 10 == 4)
               .select("vec_id").collect()]
    # r12: second lineage reusing batch id 0 (see tools twin)
    d = emb.filter(F.col("vec_id") % 10 == 9)
    qs = _queries(spark)

    def make(root):
        return HNSWIndex(spark, root)

    def script(ix):
        ix.append_batch("e", b, 0)
        ix.append_batch("e", c, 1)
        ix.append_batch("e", d, 0, app_id="L2")  # new lineage, id 0
        ix.delete("e", victims)
        ix.reshard("e", shards=3)  # r13: two-dir roll-forward window
        ix.compact("e")

    def probe(ix):
        # API first: probe entry runs the remnant restore, after
        # which the raw-path reads below are legal even mid-crash
        cand = {(r.query_id, r.neighbor_id) for r in
                ix.probe_candidates("e", qs, k=10,
                                    ef_search=64).collect()}
        meta = ix.meta("e")
        ids = sorted(
            r.vec_id for r in
            ix.spark.read.parquet(ix._vectors_dir("e"))
            .select("vec_id").distinct().collect())
        return meta["n_vectors"], ids, cand

    tmpl = str(tmp_path / "tmpl")
    make(tmpl).build("e", a, shards=2, m=8, ef_construction=64)
    log: list = []
    _, final_root = dry_run(make, tmpl, script, log=log)
    want = probe(make(final_root))
    assert want[0] == len(want[1]) > 0
    for fuel in _fuels(log, points):
        work = str(tmp_path / f"k{fuel}")
        crash_at(make, tmpl, script, fuel, work)
        got = recover_and_replay(make, work, script, probe)
        assert got == want, f"fuel={fuel}: {got[0]} != {want[0]}"


@pytest.mark.parametrize("points", _POINTS)
def test_vecidx_crash_fuzz_strided(spark, tmp_path, points):
    from rados_timestore_spark.vector_index import (
        VectorIndex, VectorIndexNotBuilt,
    )

    emb = _emb(spark)
    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    victims = [r.vec_id for r in
               emb.filter(F.col("vec_id") % 10 == 4)
               .select("vec_id").collect()]
    # r12: second lineage reusing batch id 0 (see tools twin)
    d = emb.filter(F.col("vec_id") % 10 == 9)
    qs = [(qid, list(map(float, v))) for qid, v in _queries(spark)]

    def make(root):
        return VectorIndex(spark, root)

    # enable_pq LAST: it trains codebooks on the corpus as-of its
    # run, so it is replay-convergent only once the corpus-mutating
    # verbs before it have all re-fenced to no-ops.
    def script(ix):
        ix.append_batch("e", b, 0)
        ix.append_batch("e", c, 1)
        ix.append_batch("e", d, 0, app_id="L2")  # new lineage, id 0
        ix.delete("e", victims)
        ix.compact("e")
        ix.enable_pq("e", m=4, ksub=16, residual=True)
        ix.retrain("e", k=8)  # r14: three-dir roll-forward window

    def probe(ix):
        # API first: probe entry runs the remnant restore, after
        # which the raw-path reads below are legal even mid-crash
        raw = tuple(
            (r.query_id, r.neighbor_id) for r in
            ix.probe("e", qs, nprobe=2, topk=5)
            .orderBy("query_id", "rank").collect())
        adc = tuple(
            (r.query_id, r.neighbor_id) for r in
            ix.probe_pq("e", qs, nprobe=2, topk=5)
            .orderBy("query_id", "rank").collect())
        meta = ix.meta("e")
        ids = sorted(
            r.vec_id for r in
            ix.spark.read.parquet(ix._assignments_dir("e"))
            .select("vec_id").distinct().collect())
        return meta["n_vectors"], ids, raw, adc

    tmpl = str(tmp_path / "tmpl")
    make(tmpl).build("e", a, k=4)
    log: list = []
    _, final_root = dry_run(make, tmpl, script, log=log)
    want = probe(make(final_root))
    assert want[0] == len(want[1]) > 0
    for fuel in _fuels(log, points):
        work = str(tmp_path / f"k{fuel}")
        crash_at(make, tmpl, script, fuel, work)
        got = recover_and_replay(
            make, work, script, probe,
            allowed_cold_errors=(VectorIndexNotBuilt,))
        assert got == want, f"fuel={fuel}: {got[0]} != {want[0]}"


def test_vecidx_delete_everything_lifecycle(spark, tmp_path):
    # Review finding (r11): deleting EVERY vector leaves a bucket-less
    # assignments dir; the commit recount used to throw there (after
    # the swaps, before the meta write), stranding stale meta, and
    # every later read threw too.  The empty index must behave: zero
    # counts, empty probes, no-op maintenance, and append_batch
    # re-populates it.
    from rados_timestore_spark.vector_index import VectorIndex

    emb = _emb(spark, 80)
    vi = VectorIndex(spark, str(tmp_path / "de"))
    vi.build("e", emb, k=4)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    q = [(0, list(map(float, emb.limit(1).collect()[0].embedding)))]
    assert vi.delete("e", ids) == len(ids)
    assert vi.meta("e")["n_vectors"] == 0
    assert vi.probe("e", q, topk=3).count() == 0
    assert vi.delete("e", ids) == 0          # idempotent
    assert vi.compact("e") == 0
    vi.append_batch("e", emb, 0)
    assert vi.meta("e")["n_vectors"] == len(ids)
    assert vi.probe("e", q, topk=3).count() == 3


def test_hnswidx_delete_everything_lifecycle(spark, tmp_path):
    # Same class in HNSW: pre-fix, delete-everything BRICKED the index
    # (commit recount threw after the swaps; probe/append threw too).
    import numpy as np

    from rados_timestore_spark.hnsw import HNSWIndex

    emb = _emb(spark, 80)
    ix = HNSWIndex(spark, str(tmp_path / "hde"))
    ix.build("e", emb, shards=2, m=8, ef_construction=32)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    q = [(0, np.asarray(emb.limit(1).collect()[0].embedding,
                        dtype=np.float64))]
    assert ix.delete("e", ids) == len(ids)
    assert ix.meta("e")["n_vectors"] == 0
    assert ix.probe_candidates("e", q, k=5).count() == 0
    assert ix.delete("e", ids) == 0          # idempotent
    ix.compact("e")
    ix.append_batch("e", emb, 0)
    assert ix.meta("e")["n_vectors"] == len(ids)
    assert ix.probe_candidates("e", q, k=5, ef_search=32).count() > 0


@pytest.mark.parametrize("kind", ["ivf", "hnsw"])
def test_verb_entry_sweeps_clockprobe_remnants(spark, tmp_path, kind):
    # flip_lock's stale-break stamps the FS clock with a probe file in
    # the namespace dir (fsutil.fs_now_ms); a process killed between
    # its create and delete leaves the file there for good unless a
    # verb entry sweeps it
    from rados_timestore_spark.hnsw import HNSWIndex
    from rados_timestore_spark.vector_index import VectorIndex

    emb = _emb(spark, 40)
    if kind == "ivf":
        ix = VectorIndex(spark, str(tmp_path / kind))
        ix.build("e", emb, k=4)
    else:
        ix = HNSWIndex(spark, str(tmp_path / kind))
        ix.build("e", emb, shards=2, m=8, ef_construction=32)
    probe = f"{ix._ns_dir('e')}/.clockprobe.1.x"
    assert ix.fs.create_exclusive(probe)
    ix.compact("e")
    assert not ix.fs.exists(probe)
    assert ix.meta("e")["n_vectors"] == 40
