"""Generators are seeded and plant what they promise; the reference
models behave as the engine's contracts say."""

from __future__ import annotations

import pickle

import numpy as np
import pytest

from perfbench import gen


def _points_bytes(seed: int, batches: int = 4, n: int = 2000) -> bytes:
    s = gen.PointStream(seed, n_series=128)
    return pickle.dumps([s.batch(n).tuples() for _ in range(batches)])


def _docs_bytes(seed: int) -> bytes:
    c = gen.documents(seed, 300)
    return pickle.dumps((c.doc_id, c.text, c.lang, c.source))


def _kv_bytes(seed: int) -> bytes:
    k = gen.KeyStream(seed, 500)
    return pickle.dumps((k.initial(), k.updates(200), k.random_keys(5)))


def _vec_bytes(seed: int) -> bytes:
    v = gen.gaussian_mixture(seed, 500)
    return v.ids.tobytes() + v.vecs.tobytes() + v.labels.tobytes()


@pytest.mark.parametrize("make", [_points_bytes, _docs_bytes, _kv_bytes,
                                  _vec_bytes])
def test_same_seed_same_bytes_other_seed_other_bytes(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_point_shares():
    s = gen.PointStream(3, n_series=256)
    batches = [s.batch(5000) for _ in range(8)]
    later = batches[1:]  # the first batch has nothing to re-send yet
    n = sum(len(b) for b in later)
    dups = sum(b.dups for b in later)
    late = sum(b.late for b in later)
    ext = sum(a & 1 for b in later for a in b.address)
    assert abs(dups / n - gen.DUP_SHARE) < 0.01
    assert abs(late / n - gen.LATE_SHARE) < 0.006
    assert abs(ext / n - gen.EXTENDED_SHARE) < 0.02
    sizes = [len(p) for b in batches for p in b.payload if p is not None]
    assert min(sizes) >= 8 and max(sizes) <= 1024


def test_duplicates_resend_earlier_batches_and_late_points_are_old():
    s = gen.PointStream(5, n_series=64)
    first = s.batch(3000)
    seen = set(zip(first.address, first.time))
    second = s.batch(3000)
    keys = list(zip(second.address, second.time))
    resent = [k for k in keys if k in seen]
    assert len(resent) == second.dups > 0
    fresh = [k for k in keys if k not in seen]
    assert len(set(fresh)) == len(fresh)  # only re-sends can repeat a key
    late = [t for _, t in fresh if (t - gen.T0_US) % gen.TIME_STEP_US]
    assert len(late) == second.late > 0
    assert max(late) < max(second.time)


def test_zipf_is_skewed_and_bounded():
    z = gen.Zipf(100)
    r = z.sample(gen.rng_for(1, "z"), 20000)
    assert r.min() >= 0 and r.max() < 100
    counts = np.bincount(r, minlength=100)
    assert counts[0] > 5 * counts[20] > 0


def test_point_model_is_first_wins():
    m = gen.PointModel()
    m.apply(gen.PointBatch([2, 3], [10, 10], [1, None], [None, b"a"]))
    m.apply(gen.PointBatch([2, 3, 2], [10, 10, 11], [9, None, 5],
                           [None, b"b", None]))
    assert m.read([2], 0, 100) == {(2, 10, 1), (2, 11, 5)}
    assert m.read([3], 0, 100) == {(3, 10, b"a")}
    assert m.read([2], 11, 11) == {(2, 11, 5)}
    assert m.rows() == 3


def test_kv_model_folds_in_engine_argument_order():
    m = gen.KVModel([(2, b"a")])
    m.merge([(2, b"b"), (4, b"x"), (2, b"c")])
    assert m.d == {2: b"a|b|c", 4: b"x"}
    long = gen.bounded_merge(b"n" * 50, b"o" * 50)
    assert len(long) == 64 and long.endswith(b"n" * 50)


def test_documents_plant_exact_and_near_duplicate_families():
    c = gen.documents(11, 1000)
    assert len(c.text) == len(c.doc_id) == 1000
    assert c.exact_families == 100 and c.near_families == 100
    norm = [t.strip(" ").lower() for t in c.text]
    exact = sum(norm[k] == norm[v] for k, v in c.family_of.items())
    assert exact == c.exact_families
    for k, v in c.family_of.items():
        a, b = norm[k].split(" "), norm[v].split(" ")
        same = sum(x == y for x, y in zip(a, b))
        assert len(a) == len(b) and same >= 0.9 * len(a)
    assert len(set(norm)) == 1000 - c.exact_families


def test_mixture_is_anisotropic_and_exact_topk_matches_a_loop():
    v = gen.gaussian_mixture(2, 600, dim=8, components=4)
    spreads = [v.vecs[v.labels == c].std(axis=0) for c in range(4)]
    assert max(s.max() / s.min() for s in spreads) > 2
    q = gen.gaussian_mixture(2, 5, dim=8, components=4, id_base=10**6,
                             stream="q")
    ids, cos = gen.exact_topk(v, q.vecs, k=10)
    for row, qv in enumerate(q.vecs):
        scored = sorted(((-gen.cosine(qv, x), int(i))
                         for i, x in zip(v.ids, v.vecs)))[:10]
        assert ids[row].tolist() == [i for _, i in scored]
        assert np.allclose(cos[row], [-s for s, _ in scored])
