"""pagerank: differential vs a pure-Python reference implementation."""

import pytest

from littletable_spark import Table
from littletable_spark.operators.graph import pagerank


def _ref_pagerank(edges, iterations, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in outdeg)
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += r[u] / outdeg[u]
        r = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in nodes
        }
    return r


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("c", "d"),            # d is dangling (no out-edges)
    ("a", "b"),            # duplicate edge: counts twice
    ("e", "c"),            # e appears only as a source
]


def test_pagerank_matches_reference(spark):
    t = Table("edges", spark=spark)
    t.insert_many([{"src": u, "dst": v} for u, v in EDGES])
    for iters in (1, 3, 10):
        got = {r.node: r.rank for r in pagerank(t, iterations=iters)}
        want = _ref_pagerank(EDGES, iters)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_authority_ordering(spark):
    """c receives the most in-links -> highest rank; validates the
    frontier-prioritization use (rank feeds schedule_fetches)."""
    t = Table("edges", spark=spark)
    t.insert_many([{"src": u, "dst": v} for u, v in EDGES])
    got = {r.node: r.rank for r in pagerank(t, iterations=10)}
    assert got["c"] == max(got.values())
    assert pagerank(t, iterations=10).fields == ["node", "rank"]


def test_pagerank_empty_and_validation(spark):
    t = Table("edges", spark=spark)
    t.insert_many([{"src": None, "dst": "x"}, {"src": "u", "dst": None}])
    assert len(pagerank(t)) == 0
    with pytest.raises(ValueError, match="iterations"):
        pagerank(t, iterations=0)


def _ref_pagerank_full(edges, iterations, d=0.85, r0=None, p=None, tol=None):
    """Reference with warm start (r0 dict) + personalization (p dict)
    + L1 convergence stop; returns (ranks, steps)."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    if p is None:
        pv = {v: 1.0 / n for v in nodes}
    else:
        s = sum(p.get(v, 0.0) for v in nodes)
        pv = {v: p.get(v, 0.0) / s for v in nodes}
    if r0 is None:
        r = {v: 1.0 / n for v in nodes}
    else:
        raw = {v: r0.get(v, 1.0 / n) for v in nodes}
        s = sum(raw.values())
        r = {v: x / s for v, x in raw.items()}
    steps = 0
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in outdeg)
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += r[u] / outdeg[u]
        new = {
            v: (1 - d) * pv[v] + d * (contrib[v] + dangling * pv[v])
            for v in nodes
        }
        delta = sum(abs(new[v] - r[v]) for v in nodes)
        r = new
        steps += 1
        if tol is not None and delta < tol:
            break
    return r, steps


GROWN = EDGES + [("d", "e"), ("b", "e"), ("f", "c"), ("c", "f")]


def test_pagerank_warm_start_matches_reference(spark):
    """against_ranks: prior ranks renormalized over the grown node
    set, new nodes at 1/N — bit-compatible with the reference."""
    t0 = Table("edges0", spark=spark)
    t0.insert_many([{"src": u, "dst": v} for u, v in EDGES])
    prior = pagerank(t0, iterations=3)
    prior_ref = _ref_pagerank(EDGES, 3)

    t1 = Table("edges1", spark=spark)
    t1.insert_many([{"src": u, "dst": v} for u, v in GROWN])
    got = {r.node: r.rank for r in pagerank(t1, iterations=2, against_ranks=prior)}
    want, _ = _ref_pagerank_full(GROWN, 2, r0=prior_ref)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_personalization(spark):
    """Teleport mass lands on the seed set; unmatched seeds are
    ignored; zero-overlap seed set raises."""
    t = Table("edges", spark=spark)
    t.insert_many([{"src": u, "dst": v} for u, v in EDGES])
    seeds = Table("seeds", spark=spark)
    seeds.insert_many(
        [{"node": "a", "weight": 3.0}, {"node": "d", "weight": 1.0},
         {"node": "zz", "weight": 9.0}]  # not in graph: ignored
    )
    got = {r.node: r.rank for r in pagerank(t, iterations=4, personalization=seeds)}
    want, _ = _ref_pagerank_full(EDGES, 4, p={"a": 3.0, "d": 1.0})
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    bad = Table("bad", spark=spark)
    bad.insert_many([{"node": "zz", "weight": 1.0}])
    with pytest.raises(ValueError, match="seed"):
        pagerank(t, iterations=1, personalization=bad)


def test_pagerank_warm_start_converges_faster(spark):
    """The recrawl claim: warm-starting from the prior crawl's
    CONVERGED ranks reaches the same tolerance in FEWER iterations
    than cold when the graph grew by a small delta (a 2% edge
    ingest), and the realized step counts are reported."""
    base = [(i, (i + 1) % 200) for i in range(200)] + [
        (i, (i * 7) % 200) for i in range(0, 200, 5)
    ]
    grown = base + [(i, (i * 3 + 1) % 200) for i in range(0, 200, 40)]
    t0 = Table("edges0", spark=spark)
    t0.insert_many([{"src": u, "dst": v} for u, v in base])
    prior = pagerank(t0, iterations=100, tol=1e-9)

    t1 = Table("edges1", spark=spark)
    t1.insert_many([{"src": u, "dst": v} for u, v in grown])
    tol = 1e-6
    cold = pagerank(t1, iterations=100, tol=tol)
    warm = pagerank(t1, iterations=100, tol=tol, against_ranks=prior)
    assert warm.pagerank_iterations < cold.pagerank_iterations
    # both converged to the same fixed point
    cr = {r.node: r.rank for r in cold}
    wr = {r.node: r.rank for r in warm}
    for v in cr:
        assert wr[v] == pytest.approx(cr[v], abs=1e-4)


def test_pagerank_aqe_toggle_scoped(spark):
    """The small-graph AQE toggle must not perturb concurrent work: it
    is skipped when other Spark jobs are in flight, a concurrent call
    can't stomp the saved/restored value (module lock), and the conf is
    always restored afterward."""
    import littletable_spark.operators.graph as G

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)

    # gate: active jobs on the context => toggle disallowed
    class _FakeTracker:
        def getActiveJobsIds(self):
            return [1]

    class _FakeSC:
        def statusTracker(self):
            return _FakeTracker()

    class _FakeSpark:
        sparkContext = _FakeSC()

    assert G._aqe_toggle_allowed(_FakeSpark()) is False
    # idle context => allowed
    assert G._aqe_toggle_allowed(spark) is True

    # lock held (another pagerank mid-loop) => pagerank runs fine and
    # leaves the conf exactly as it found it
    t = Table("edges_aqe", spark=spark)
    t.insert_many([{"src": "a", "dst": "b"}, {"src": "b", "dst": "a"}])
    with G._AQE_TOGGLE_LOCK:
        out = pagerank(t, iterations=1)
        assert len(out) == 2
        assert spark.conf.get(key) == before
    assert not G._AQE_TOGGLE_LOCK.locked()

    # normal path restores too
    pagerank(t, iterations=1)
    assert spark.conf.get(key) == before
    assert not G._AQE_TOGGLE_LOCK.locked()


def test_pagerank_distributed_loop_matches_driver_fast_path(spark, monkeypatch):
    """The numpy fast path and the distributed Spark loop are the same
    algorithm — force the distributed loop (edge bound = 0) and compare
    both against each other and the reference on every feature combo."""
    import littletable_spark.operators.graph as G

    t = Table("edges_fp", spark=spark)
    t.insert_many([{"src": u, "dst": v} for u, v in EDGES])
    seeds = Table("seeds_fp", spark=spark)
    seeds.insert_many([{"node": "a", "weight": 2.0}, {"node": "c", "weight": 1.0}])

    fast_cold = {r.node: r.rank for r in pagerank(t, iterations=4)}
    fast_pers = {
        r.node: r.rank
        for r in pagerank(t, iterations=3, personalization=seeds)
    }
    prior = pagerank(t, iterations=2)
    fast_warm = {
        r.node: r.rank
        for r in pagerank(t, iterations=2, against_ranks=prior)
    }

    monkeypatch.setattr(G, "_DRIVER_MAX_EDGE_ROWS", 0)
    slow_cold = {r.node: r.rank for r in pagerank(t, iterations=4)}
    slow_pers = {
        r.node: r.rank
        for r in pagerank(t, iterations=3, personalization=seeds)
    }
    slow_warm = {
        r.node: r.rank
        for r in pagerank(t, iterations=2, against_ranks=prior)
    }

    for fast, slow in (
        (fast_cold, slow_cold), (fast_pers, slow_pers), (fast_warm, slow_warm)
    ):
        assert set(fast) == set(slow)
        for v in fast:
            assert fast[v] == pytest.approx(slow[v], abs=1e-12)

    ref = _ref_pagerank(EDGES, 4)
    for v in ref:
        assert slow_cold[v] == pytest.approx(ref[v], rel=1e-9)


def test_pagerank_error_paths_release_every_cache(spark, monkeypatch):
    """Every ValueError pagerank raises after it started persisting
    (zero-weight seeds, warm-start ranks summing to zero) leaves the
    persistent-RDD count where it was, on the driver fast path and on
    the distributed loop."""
    import littletable_spark.operators.graph as G

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    t = Table("edges_err", spark=spark)
    t.insert_many([{"src": u, "dst": v} for u, v in EDGES])
    bad_seeds = Table("bad_seeds", spark=spark)
    bad_seeds.insert_many([{"node": "a", "weight": 0.0}, {"node": "zz", "weight": 1.0}])
    zero_ranks = Table("zero_ranks", spark=spark)
    nodes = {u for u, _ in EDGES} | {v for _, v in EDGES}
    zero_ranks.insert_many([{"node": v, "rank": 0.0} for v in sorted(nodes)])
    pagerank(t, iterations=1)  # materialize anything the inputs cache lazily

    def assert_released():
        for kwargs, match in (
            ({"personalization": bad_seeds}, "seed"),
            ({"against_ranks": zero_ranks}, "sums to zero"),
        ):
            before = n_persistent()
            with pytest.raises(ValueError, match=match):
                pagerank(t, iterations=2, **kwargs)
            assert n_persistent() == before, kwargs

    assert_released()
    monkeypatch.setattr(G, "_DRIVER_MAX_EDGE_ROWS", 0)
    assert_released()
