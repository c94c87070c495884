"""Link-graph analytics (pipeline/graph.py): PageRank against an
independent numpy power iteration, mass conservation, dangling
handling, and the lineage-cut discipline that makes deep iteration
counts survivable."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from melodist_spark.pipeline.graph import out_degrees, pagerank


def _numpy_pagerank(edges, damping, n_iter):
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for a, _ in edges:
        out[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for a, b in edges:
            contrib[idx[b]] += r[idx[a]] / out[idx[a]]
        dang = r[out == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dang / n)
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_numpy_power_iteration(spark):
    """Differential test: random digraph with a guaranteed dangling
    node; every rank matches an independent numpy implementation to
    1e-12 and the total mass stays exactly normalized."""
    rng = np.random.default_rng(5)
    edges = set()
    for _ in range(60):
        a, b = (int(x) for x in rng.integers(0, 14, 2))
        if a != b and a != 13:  # node 13 stays dangling
            edges.add((a, b))
    edges = sorted(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])

    got = {r["node"]: r["pagerank"] for r in pagerank(df, 0.85, 6).collect()}
    exp = _numpy_pagerank(edges, 0.85, 6)
    assert set(got) == set(exp)
    for v, e in exp.items():
        assert abs(got[v] - e) < 1e-12, (v, got[v], e)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_hub_beats_leaf_and_deep_iterations_survive(spark):
    """A star graph ranks its hub highest; 20 iterations with the
    default per-iteration lineage cut completes (without the cut the
    3^k plan tree kills the driver before any data moves — the
    regression this test pins)."""
    star = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    df = spark.createDataFrame(star, ["src", "dst"])
    got = {r["node"]: r["pagerank"] for r in pagerank(df, 0.85, 20).collect()}
    assert got[0] == max(got.values())
    exp = _numpy_pagerank(star, 0.85, 20)
    for v, e in exp.items():
        assert abs(got[v] - e) < 1e-12


def test_out_degrees_includes_sinks(spark):
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["src", "dst"])
    got = {r["node"]: r["out_deg"] for r in out_degrees(df).collect()}
    assert got == {1: 2, 2: 1, 3: 0}


def test_pagerank_validates_and_handles_empty(spark):
    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)
    empty = df.filter(F.lit(False))
    assert pagerank(empty, 0.85, 3).count() == 0


def test_pagerank_prepartition_same_result(spark):
    edges = [(i, (i * 3 + 1) % 9) for i in range(9) if i != (i * 3 + 1) % 9]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = {r["node"]: r["pagerank"] for r in pagerank(df, 0.85, 5).collect()}
    b = {
        r["node"]: r["pagerank"]
        for r in pagerank(df, 0.85, 5, prepartition=True).collect()
    }
    assert a.keys() == b.keys()
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12


def test_pagerank_driver_path_matches_distributed(spark):
    """driver_below engages the numpy twin; its ranks must equal the
    distributed loop's to float round-off — this equality is what
    lets the oracle-checked registry row (web_curation.domain_pr,
    driver path) vouch for the distributed operator too."""
    rng = np.random.default_rng(9)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, 20, (80, 2))
            if a != b and a != 19
        }
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    dist = {r["node"]: r["pagerank"] for r in pagerank(df, 0.85, 5).collect()}
    drv = {
        r["node"]: r["pagerank"]
        for r in pagerank(df, 0.85, 5, driver_below=1000).collect()
    }
    assert dist.keys() == drv.keys()
    for v in dist:
        assert abs(dist[v] - drv[v]) < 1e-12, (v, dist[v], drv[v])
    # threshold respected: a graph larger than driver_below stays
    # distributed (observable via the checkpointed lineage: the
    # driver path returns a local-relation plan)
    local_plan = pagerank(df, 0.85, 2, driver_below=1000)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in local_plan or "LogicalRDD" in local_plan
    dist_plan = pagerank(df, 0.85, 2, driver_below=2)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in dist_plan


def test_pagerank_checkpoint_dir_matches_local(spark, tmp_path):
    """Reliable-checkpoint mode (round 12): the power iteration run
    with checkpoint_dir set — every cut truncating the rank table to
    alternating scratch parquet instead of executor-local blocks —
    must compute the same ranks as the localCheckpoint path: the
    right slot read back, the right iteration count. The cut's source
    changes the plan (a parquet scan carries size statistics and is
    broadcast at once; a local cut's RDD scan has none and is hash
    exchanged first), so the double sums may group their terms
    differently and the two modes agree to summation round-off, not
    bit for bit. Five iterations with checkpoint_every=2 exercises
    both slots plus a final un-cut iteration."""
    rng = np.random.default_rng(17)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, 25, (90, 2))
            if a != b and a != 24
        }
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    want = {
        r["node"]: r["pagerank"]
        for r in pagerank(df, 0.85, 5, checkpoint_every=2).collect()
    }
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            df, 0.85, 5, checkpoint_every=2,
            checkpoint_dir=str(tmp_path / "pr_ck"),
        ).collect()
    }
    assert want.keys() == got.keys()
    # l1 round-off bound over the rank mass of 1, per run and summed
    # over iterations: gamma_{N-1} is the recursive-summation bound for
    # non-negative terms (Higham, Accuracy and Stability of Numerical
    # Algorithms, 2nd ed., §4.2, eq. 4.4) covering __contrib and __dm;
    # 5u the update's elementwise ops (r/out_deg, __dm/N, +, ×d,
    # +base); ×2 for two independent runs; 1/(1-d) because the update
    # is an l1 contraction by d. One iteration more or fewer moves the
    # ranks by orders of magnitude more than this.
    n, d = len(want), 0.85
    u = np.finfo(float).eps / 2
    gamma = (n - 1) * u / (1 - (n - 1) * u)
    tol = 2 * (gamma + 5 * u) / (1 - d)
    l1 = sum(abs(got[v] - want[v]) for v in want)
    assert l1 <= tol, (l1, tol)
    assert (tmp_path / "pr_ck").exists()


def test_pagerank_releases_previous_cut_blocks(spark):
    """Each cut's localCheckpoint blocks are released once the next
    cut materializes — executor storage holds at most the live rank
    table, not one copy per iteration (previously freed only
    whenever the ContextCleaner got around to it)."""
    sc = spark.sparkContext._jsc.sc()

    def persisted_ids():
        return {i.id() for i in sc.getRDDStorageInfo()}

    rng = np.random.default_rng(23)
    edges = sorted(
        {(int(a), int(b)) for a, b in rng.integers(0, 15, (50, 2)) if a != b}
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    before = persisted_ids()
    out = pagerank(df, 0.85, 6, checkpoint_every=1)
    new = persisted_ids() - before
    # live: the final cut's blocks + the persisted degree table's
    # (unpersist is async) — the five earlier cuts must be gone
    assert len(new) <= 2, new
    assert abs(sum(r["pagerank"] for r in out.collect()) - 1.0) < 1e-9


def test_pagerank_resume_continues_from_cut(spark, tmp_path):
    """Driver-loss resume (round 13, VERDICT r12 item 2): a run
    stopped after 3 of 6 iterations (its cuts + manifests durable
    under checkpoint_dir) resumed with n_iter=6 must produce ranks
    EXACTLY equal (float-identical — the update is a pure function of
    the durable rank table) to the uninterrupted 6-iteration run.
    Extending n_iter across a resume is legitimate loop control;
    damping and the recomputed node count are validated and a
    mismatch raises."""
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(20)]
        + [(i, (i + 3) % 20) for i in range(20)],
        ["src", "dst"],
    )
    full = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            edges, n_iter=6, checkpoint_dir=str(tmp_path / "full")
        ).collect()
    }
    ck = str(tmp_path / "crash")
    pagerank(edges, n_iter=3, checkpoint_dir=ck).collect()
    resumed = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            edges, n_iter=6, checkpoint_dir=ck, resume=True
        ).collect()
    }
    assert resumed == full  # exact float equality

    # resuming with the FULL budget already met returns the final cut
    again = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            edges, n_iter=6, checkpoint_dir=ck, resume=True
        ).collect()
    }
    assert again == full

    with pytest.raises(ValueError, match="parameter mismatch"):
        pagerank(edges, damping=0.5, n_iter=6, checkpoint_dir=ck, resume=True)
    # a different edge list changes n_nodes — refused, not silently mixed
    with pytest.raises(ValueError, match="parameter mismatch"):
        pagerank(
            edges.limit(10), n_iter=6, checkpoint_dir=ck, resume=True
        )
    with pytest.raises(ValueError, match="resume=True requires"):
        pagerank(edges, n_iter=6, resume=True)
    with pytest.raises(ValueError, match="resume=True requires"):
        pagerank(
            edges, n_iter=6, checkpoint_dir=ck, checkpoint_every=0,
            resume=True,
        )
