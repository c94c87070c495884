"""Physical-plan contracts as tests: the scale promises (pruned scans,
broadcast dims, join-free as-of, no cartesian anywhere) must hold on
every run, not just when someone remembers tools/explain_audit.py."""

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def qs():
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    return entry.queries()


#: registry rows with no possible SQL oracle (iterative tokenizer
#: training) — they sit past the 51 keys the gate checks
NO_ORACLE = {"bpe_tokenize", "unigram_tokenize"}


def test_registry_oracle_parity(qs):
    """One oracle per checked row and no dead rows, checked without
    Spark: every ``oracle_sql()`` key names a registry row, every
    row but the two un-oracle-able ones has one, those two are the
    registry's tail, and every module-level ``q_*`` function is
    reachable from ``queries()``."""
    import ast

    import __spark_entry__ as entry

    assert set(entry.oracle_sql()) == set(qs) - NO_ORACLE
    assert set(list(qs)[-len(NO_ORACLE):]) == NO_ORACLE

    with open(entry.__file__) as f:
        tree = ast.parse(f.read())
    defs = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    seen, stack = set(), ["queries"]
    while stack:
        name = stack.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        stack.extend(
            n.id for n in ast.walk(defs[name]) if isinstance(n, ast.Name)
        )
    dead = sorted(n for n in defs if n.startswith("q_") and n not in seen)
    assert not dead, f"q_* functions unreachable from queries(): {dead}"


def test_entry_owns_no_met_formula():
    """The met formulas live in the library: registry rows compose the
    operators' formula builders and never call the trigonometric or
    exponential column functions themselves (checked without Spark)."""
    import ast
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    with open(path) as f:
        tree = ast.parse(f.read())
    hits = sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "F"
        and n.func.attr in ("cos", "sin", "exp")
    )
    assert not hits, f"F.cos/F.sin/F.exp called at lines {hits}"


def _import_closure(repo, roots):
    """The ``melodist_spark`` files that importing ``roots`` loads:
    absolute and relative imports, followed transitively. Importing a
    submodule also runs its parent packages' ``__init__`` files, so
    those and their imports are followed too."""
    import ast
    from pathlib import Path

    def path_of(name):
        p = Path(repo, *name.split("."))
        for cand in (p.with_suffix(".py"), p / "__init__.py"):
            if cand.is_file():
                return cand
        return None

    seen, stack = set(), list(roots)
    while stack:
        path = stack.pop()
        if path in seen:
            continue
        seen.add(path)
        parts = list(path.relative_to(repo).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        package = parts if path.name == "__init__.py" else parts[:-1]
        names = [".".join(parts)]
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names += [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = package[: len(package) - node.level + 1]
                    base = ".".join(up + ([base] if base else []))
                names += [base] + [f"{base}.{a.name}" for a in node.names]
        for name in names:
            parts = name.split(".")
            if parts[0] != "melodist_spark":
                continue
            for i in range(1, len(parts) + 1):
                p = path_of(".".join(parts[:i]))
                if p is not None and p not in seen:
                    stack.append(p)
    return seen


def test_every_module_reachable():
    """Every library module is imported from an entry point: the
    registry file, ``bench.py``, the benchmark harness or the package
    exports (checked without Spark). A module none of them reaches is
    dead code and gets deleted. ``import melodist_spark`` loads no
    ``pipeline/`` module."""
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg_init = repo / "melodist_spark" / "__init__.py"
    roots = [repo / "__spark_entry__.py", repo / "bench.py", pkg_init]
    roots += [
        p
        for p in (repo / "melobench").glob("*.py")
        if not p.name.startswith("test_")
    ]
    reached = _import_closure(repo, roots)
    dead = sorted(
        str(p.relative_to(repo))
        for p in (repo / "melodist_spark").rglob("*.py")
        if p not in reached
    )
    assert not dead, f"modules no entry point imports: {dead}"

    pipeline = sorted(
        str(p.relative_to(repo))
        for p in _import_closure(repo, [pkg_init])
        if "pipeline" in p.parts
    )
    assert not pipeline, f"import melodist_spark loads {pipeline}"


@pytest.mark.parametrize(
    "name,must,must_not",
    [
        (
            "temp_sine_disagg",
            [r"ReadSchema: struct<ts:(bigint|timestamp_ntz),user_id:bigint,value:double>"],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            "humidity_dewpoint",
            [],
            [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            "asof_attribution",
            [r"Window"],
            [r"Join", r"CartesianProduct"],
        ),
        (
            "embedding_neardup",
            [r"ArrowEvalPython|BatchEvalPython"],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            "minhash_pairs",
            [],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            # pruned event scan: the per-station gap summary must not
            # drag event_type/props through the aggregation
            "gap_analysis",
            [r"ReadSchema: struct<ts:(bigint|timestamp_ntz),user_id:bigint(,value:double)?>"],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            # vocab table broadcast into both probability joins; the
            # two broadcast builds hang off one canonical unigram
            # shuffle, so AQE's ReuseExchange runs the corpus scan
            # once at runtime (asserted in
            # test_lm_reuse_exchange_no_cache_residue) — no persist,
            # so no InMemoryTableScan and no cached-block residue in
            # long-lived sessions. The 1-row totals ride a broadcast
            # nested-loop cross join, which is why BNLJ is NOT
            # forbidden here
            "pmi_collocations",
            [r"BroadcastHashJoin"],
            [r"SortMergeJoin", r"CartesianProduct", r"InMemoryTableScan"],
        ),
        (
            # merged clean+PII+quality audit: one narrow scan, every
            # column a codegen expression — no join, no shuffle at all
            "text_curation",
            [],
            [r"Exchange", r"Join", r"CartesianProduct"],
        ),
        (
            # merged ANN union (round 10): the pq/ivfpq halves keep
            # their Arrow kernels (encode + ADC partials, the only
            # shuffle ranks the q·k-per-batch partial frame); the
            # brute half legitimately broadcast-cross-joins (BNLJ),
            # but nothing may shuffle-join or go cartesian
            "ann_topk",
            [r"MapInPandas"],
            [r"SortMergeJoin", r"CartesianProduct"],
        ),
        (
            # training-mixture construction: a union of filtered
            # scans with one narrow explode per source (Generate IS
            # the intended epoch fan-out) — no shuffle, no join, no
            # Python evaluation anywhere; partitioning-immune by
            # construction
            "weighted_mixture",
            [r"Generate"],
            [
                r"Exchange",
                r"Join",
                r"CartesianProduct",
                r"BatchEvalPython",
                r"ArrowEvalPython",
                r"MapInPandas",
            ],
        ),
        (
            # both LM deployment shapes in one frame; neither path may
            # degenerate to a cartesian. The vocabulary size V rides
            # along as a 1-row broadcast aggregate (no driver count(),
            # no persist), and that 1-row cross join is a
            # BroadcastNestedLoopJoin by construction — so BNLJ is NOT
            # forbidden here (the no-persist/ReuseExchange contract is
            # pinned in test_lm_reuse_exchange_no_cache_residue)
            "doc_perplexity",
            [r"MapInPandas"],
            [r"CartesianProduct", r"InMemoryTableScan"],
        ),
        (
            # C4/RefinedWeb line dedup: first-occurrence via
            # min-struct AGGREGATION — a Window partitioned by the
            # line key would serialize every occurrence of a hot
            # boilerplate line ("click here") into one task
            "line_dedup",
            [],
            [r"\(\d+\) Window", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            # two-phase distributed prefix sum: the doc-level running
            # sum must be partitioned by __bucket (per-bucket window),
            # and the only global window runs over the n_buckets-row
            # bucket-totals frame — an UNPARTITIONED window ordered by
            # doc attributes (windowspecdefinition starting at __h)
            # would be the single-task global prefix sum the design
            # forbids
            "pack_sequences",
            [
                r"windowspecdefinition\(__bucket#\d+, __h#\d+ ASC",
            ],
            [
                r"windowspecdefinition\(__h#",
                r"CartesianProduct",
                r"BroadcastNestedLoopJoin",
            ],
        ),
        (
            # round-7 crawl-side curation: html_to_text + URL
            # canonicalization are pure codegen over a pruned 4-column
            # scan (n_chars must not be read); the ONLY exchange is
            # the per-domain rank's hash partition — no Python
            # evaluation, no join
            # round 7: domain_pr joined the frame, so the contract
            # allows BROADCAST joins (the rank table is
            # parameter-sized) but still forbids any shuffle-side
            # join, Python eval, or explode on the corpus scan
            "web_curation",
            [
                r"ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>",
                r"\(\d+\) Window",
                r"BroadcastHashJoin",
                # round 9: the DOM-tier extractor is ONE Arrow stage
                # on the main-content scan — the contracted fast
                # shape (paired-measured 2.2x over the interpreted
                # HOF tree); row-at-a-time Python stays banned
                r"ArrowEvalPython",
            ],
            [
                r"BatchEvalPython",
                r"MapInPandas",
                r"SortMergeJoin",
                r"ShuffledHashJoin",
                r"CartesianProduct",
                r"Generate",
            ],
        ),
        (
            # round-6 apply-only scoring with pinned IRLS weights:
            # the per-document path is PURE codegen — sigmoid of a
            # literal-weighted sum over single-scan features; no
            # Python evaluation of any kind, no join, no shuffle
            "quality_classifier",
            [],
            [
                r"BatchEvalPython",
                r"ArrowEvalPython",
                r"MapInPandas",
                r"Exchange",
                r"Join",
            ],
        ),
    ],
)
def test_plan_contract(spark, qs, name, must, must_not):
    plan = _plan(qs[name](spark, SF_DIR))
    for pat in must:
        assert re.search(pat, plan), f"{name}: missing /{pat}/"
    for pat in must_not:
        assert not re.search(pat, plan), f"{name}: found forbidden /{pat}/"


def test_plan_contract_ivf_topk(spark):
    """Trained-quantizer ANN (the method='ivf' branch of the merged
    ann_topk registry row, pinned on the operator directly
    because the brute branch legitimately broadcast-cross-joins):
    centroid/probe joins must all be broadcast — a SortMergeJoin on
    the probe side would shuffle the full embedding table per query
    batch."""
    from pyspark.sql import functions as F

    from melodist_spark.pipeline.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    plan = _plan(ivf_topk(emb, queries, k=5))
    assert re.search(r"BroadcastHashJoin", plan)
    for pat in (r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin"):
        assert not re.search(pat, plan), f"found forbidden /{pat}/"


def test_plan_contract_lsh_candidate_pairs(spark):
    """The dup_clusters/minhash/jaccard candidate stage (its label
    propagation executes eagerly, so the contract is pinned on the
    candidate-pair frame): the skew-salted band join must carry the
    salt in its join keys and never degenerate into a cartesian."""
    from melodist_spark.pipeline.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = lsh_candidate_pairs(
        lsh_bands(
            minhash_signature(docs, num_hashes=16, shingle=3),
            num_hashes=16,
            band_size=4,
        )
    )
    plan = _plan(pairs)
    assert re.search(r"__salt", plan), "salt missing from candidate join"
    assert re.search(
        r"Left keys \[3\]: \[band_idx[^\]]*band_hash[^\]]*__salt", plan
    ), "salt not part of the join keys"
    assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan)


def test_plan_contract_jaccard_no_shingle_explode(spark):
    """Round-7 pin of the round-6 jaccard_pairs reshape (VERDICT item
    5): exact Jaccard must score candidate pairs by joining each
    pair's two DISTINCT-shingle ARRAYS (`array_intersect`), never by
    exploding a corpus-sized (id, shingle) stream — the reshape cost
    +15% wall at sf0.1 to buy the plan that survives 100×, so it must
    not silently revert. Contract: (a) no Generate in the plan
    explodes a shingle expression (shingles are built from
    split/zip_with over text — the only legitimate Generates are the
    LSH band structs, the salt sequence, and the 2-element pair-id
    array); (b) the pair scoring runs array_intersect; (c) at runtime
    the a-/b-side shingle-array builds share ONE hashpartitioning(id)
    exchange via AQE's ReuseExchange."""
    from melodist_spark.pipeline.dedup import (
        jaccard_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = lsh_candidate_pairs(
        lsh_bands(
            minhash_signature(docs, num_hashes=16, shingle=3),
            num_hashes=16,
            band_size=4,
        )
    )
    out = jaccard_pairs(docs, pairs, shingle=3)
    plan = _plan(out)
    assert "array_intersect" in plan, "array-set scoring missing"
    for m in re.finditer(r"\(\d+\) Generate\n(?:[^\n]+\n){1,3}", plan):
        block = m.group(0)
        assert "zip_with" not in block and "split(text" not in block, (
            "shingle explode found:\n" + block[:300]
        )
    # runtime: AQE must fold the two id-keyed shingle-array builds
    # into one exchange (static expr-ids differ; reuse is an AQE step)
    out.collect()
    final = _plan(out)
    reused = re.findall(
        r"ReusedExchange[^\n]*\n+Output \[2\]: \[doc_id#\d+L, text#\d+\]", final
    )
    assert reused, "a-/b-side corpus-prune exchange not reused:\n" + final[:500]


def test_plan_contract_calibration_runs_no_python(met_hourly, met_daily, stations):
    """Calibration, the cascade statistics and the Bristow-Campbell fit
    among them, and the five disaggregations the fleet benchmark runs,
    the seasonal cascade union among them, plan no Python evaluation."""
    from melodist_spark.api import Stations
    from melodist_spark.statistics import StationStatistics

    s = StationStatistics(met_hourly, stations)
    s.calc_wind_stats().calc_humidity_stats().calc_temperature_stats()
    s.calc_precipitation_stats(months=[[3, 4, 5], [6, 7, 8], [9, 10, 11], [12, 1, 2]])
    s.calc_radiation_stats(data_daily=met_daily, how="seasonal")
    pat = re.compile(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow")
    for name in ("precip_stats", "glob_bristcamp", "glob_angstroem", "glob_mean_course"):
        assert not pat.search(_plan(getattr(s, name))), name
    st = Stations(stations, met_daily)
    st.statistics = s
    outs = {
        "temp": st.disaggregate_temperature("sine_min_max", min_max_time="sun_loc"),
        "hum": st.disaggregate_humidity("dewpoint_regression"),
        "wind": st.disaggregate_wind("cosine"),
        "glob": st.disaggregate_radiation("pot_rad_via_bc"),
        "precip": st.disaggregate_precipitation("cascade", seed=7),
    }
    for name, df in outs.items():
        assert not pat.search(_plan(df)), name


def test_plan_contract_cascade_splits_evaluate_once(spark, qs):
    """Each cascade split is its own projection between window steps:
    the registry row's plan holds one md5 per split, 5 hourly plus 9 at
    level 9. A split inlined into a later lambda (the optimizer inlines
    a column referenced once) would run once per step and add an md5."""
    plan = _plan(qs["cascade_disagg"](spark, SF_DIR))
    assert plan.count("md5(") == 5 + 9, plan.count("md5(")


def test_lm_reuse_exchange_no_cache_residue(spark):
    """Round-6 leak fix (ADVICE): lm_cross_entropy and
    pmi_collocations used to persist() the vocabulary-sized unigram
    table and never unpersist it — every scoring call in a long-lived
    session leaked cached blocks into executor storage. Both now
    share the unigram shuffle across their consumers via AQE's
    runtime ReuseExchange instead: one corpus scan, zero cached
    blocks. Contract: the FINAL adaptive plan contains a
    ReusedExchange, and executor storage holds no RDD blocks after
    materialization."""
    from melodist_spark.pipeline.lm import lm_cross_entropy, pmi_collocations

    def cached_ids():
        # other tests in the shared session may hold their own
        # legitimate persists — only NEW residue counts as a leak
        return {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        }

    before = cached_ids()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (
        lm_cross_entropy(docs).select("doc_id", "cross_entropy"),
        pmi_collocations(docs, min_count=2, top_k=10),
    ):
        df.collect()
        final = _plan(df)
        assert re.search(r"ReusedExchange", final), "unigram shuffle not reused"
        assert not re.search(r"InMemoryTableScan", final)
    leaked = cached_ids() - before
    assert not leaked, f"cached blocks left behind by LM calls: {leaked}"


def test_plan_contract_backoff_and_spans_no_cartesian(spark):
    """Round-6 contract for a heavy without a registry-row plan pin:
    ExactSubstr repeated-spans (one gram hash per token position +
    window span-merge) must never degenerate into a cartesian or
    nested-loop join."""
    from melodist_spark.pipeline.dedup import repeated_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(repeated_spans(docs))
    for pat in (r"CartesianProduct", r"BroadcastNestedLoopJoin"):
        assert not re.search(pat, plan), f"found forbidden /{pat}/"


def test_plan_contract_tokenize_apply_shuffle_free(spark, qs):
    """The tokenize_apply registry row (round 11) is two
    broadcast-model encode scans unioned: each branch must be scan →
    Arrow MapInPandas → project with NO Exchange anywhere (encoding
    is embarrassingly parallel; a shuffle here would be a planning
    bug), and the parquet scans must be pruned to (doc_id, text) —
    the mapInPandas encoder ships every input column through Arrow,
    so an unpruned scan pays Python transfer for dead columns."""
    plan = _plan(qs["tokenize_apply"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2
    for pat in (r"Exchange", r"BatchEvalPython", r"Join"):
        assert not re.search(pat, plan), f"found forbidden /{pat}/"
    for rs in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        assert rs == "doc_id:bigint,text:string", rs


def test_plan_contract_remove_repeated_spans(spark):
    """Repeated-span REMOVAL (round 11) stays relational: gram
    count + semi/anti joins + window merge + excision — no Python
    anywhere (the excision is a JVM filter-with-index), no cartesian
    or nested-loop join, and crucially NO broadcast of the
    duplicated-gram set is assumed by the plan shape (corpus-wide
    duplicate inventories are not parameter-sized at crawl scale —
    the joins must be keyed shuffles or AQE-chosen broadcasts, never
    a collected array)."""
    from melodist_spark.pipeline.dedup import remove_repeated_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = remove_repeated_spans(
        docs, span_tokens=20, keep_first=True, until_clean=False
    )
    plan = _plan(out)
    for pat in (
        r"CartesianProduct",
        r"BroadcastNestedLoopJoin",
        r"BatchEvalPython",
        r"ArrowEvalPython",
        r"MapInPandas",
    ):
        assert not re.search(pat, plan), f"found forbidden /{pat}/"


def test_plan_contract_apply_robots_zero_url_shuffle(spark):
    """URL-side robots evaluation is a single broadcast join + codegen
    fold: the only Exchanges allowed are on the RULES side (the
    per-domain packing shuffle + its broadcast). The URL side must not
    shuffle, aggregate, or row-multiply — the round-6 shape (rule-level
    join + groupBy(row_id) + rejoin) shuffled the corpus side twice."""
    from melodist_spark.pipeline.robots import apply_robots

    urls = spark.createDataFrame(
        [("a.com", "/x"), ("b.com", "/y")], "domain string, path string"
    )
    rules = spark.createDataFrame(
        [("a.com", "^/x", False, 2)],
        "domain string, pattern string, allow boolean, specificity long",
    )
    plan = _plan(apply_robots(urls, rules))
    assert re.search(r"BroadcastHashJoin", plan)
    # exactly the two rules-side exchanges: hashpartitioning(domain)
    # for the packing agg, then the broadcast of the packed table
    # (formatted explain prints each node twice: tree + detail)
    assert len(re.findall(r"\bExchange\b", plan)) <= 2, plan
    assert len(re.findall(r"BroadcastExchange", plan)) == 2, plan
    for pat in (r"SortMergeJoin", r"CartesianProduct", r"monotonically"):
        assert not re.search(pat, plan), f"found forbidden /{pat}/"


def test_plan_contract_perceptual_neardup_no_cartesian(spark):
    """The banded perceptual-hash self-join (images AND the video
    frame variant) must stay an equi-join on (band_idx, band_hash) —
    no CartesianProduct / BroadcastNestedLoopJoin, and the Hamming
    verify must be codegen bit_count, not a Python stage."""
    from melodist_spark.pipeline.multimodal import (
        dhash_neardup_pairs,
        video_neardup_pairs,
    )

    hashes = spark.createDataFrame(
        [(1, 7), (2, 8)], "media_id long, dhash long"
    )
    plan = _plan(dhash_neardup_pairs(hashes))
    assert re.search(r"bit_count", plan)
    frame_hashes = spark.createDataFrame(
        [(1, 0, 7), (2, 0, 8)], "media_id long, frame_idx long, phash long"
    )
    vplan = _plan(video_neardup_pairs(frame_hashes))
    for p in (plan, vplan):
        for pat in (r"CartesianProduct", r"BroadcastNestedLoopJoin",
                    r"BatchEvalPython", r"ArrowEvalPython"):
            assert not re.search(pat, p), f"found forbidden /{pat}/"


def test_plan_contract_embedding_increment(spark):
    """The incremental embedding near-dup (outside the registry, so
    the global invariants never see it) must stay: bucket UDF as
    ArrowEvalPython (never BatchEvalPython), candidates from keyed
    joins only (no CartesianProduct / BroadcastNestedLoopJoin), and
    the survivor filter a LeftAnti join."""
    from melodist_spark.pipeline.similarity import (
        embedding_index,
        embedding_neardup_against,
    )

    corpus = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [0.25] * 8)], "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(10, [0.5] * 8)], "vec_id long, embedding array<double>"
    )
    idx = embedding_index(corpus, dim=8, num_planes=4, num_tables=3)
    plan = _plan(
        embedding_neardup_against(
            batch, idx, dim=8, num_planes=4, num_tables=3
        )
    )
    assert re.search(r"ArrowEvalPython", plan)
    assert re.search(r"LeftAnti", plan)
    for pat in (r"CartesianProduct", r"BroadcastNestedLoopJoin",
                r"BatchEvalPython"):
        assert not re.search(pat, plan), f"found forbidden /{pat}/"


def test_plan_contract_gopher_repetition_pure_map(spark):
    """gopher_repetition is a per-document metric: its plan must be
    scan + one Arrow-batched eval — NO Exchange (the relational
    explode->groupBy formulation shuffled 9x the corpus's token
    positions as string keys: 413 s vs 21 s at 2M docs), no join, no
    explode, and the Arrow (not row-at-a-time Batch) Python node."""
    from melodist_spark.pipeline.text import gopher_repetition

    docs = spark.createDataFrame(
        [(1, "a b\na b"), (2, "x y z")], "doc_id long, text string"
    )
    plan = _plan(gopher_repetition(docs))
    assert re.search(r"ArrowEvalPython", plan)
    for pat in (
        r"Exchange",
        r"BatchEvalPython",
        r"Join",
        r"Generate",
        r"CartesianProduct",
    ):
        assert not re.search(pat, plan), f"found forbidden /{pat}/"


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window exec nodes that move ALL rows to one partition: the
    formatted node's Arguments line carries ``[exprs], [partition],
    [order]`` when partitioned — a 2-group form is either
    partition-only (last group has no sort direction: fine) or a
    GLOBAL sorted window (last group carries ASC/DESC: the
    single-partition bottleneck WindowExec warns about)."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if not re.match(r"^\(\d+\) Window\s*$", ln.strip()):
            continue
        for j in range(i + 1, min(i + 6, len(lines))):
            s = lines[j].strip()
            if not s.startswith("Arguments: "):
                continue
            groups, depth, buf = [], 0, ""
            for ch in s:
                if ch == "[":
                    if depth == 0:
                        buf = ""
                    depth += 1
                elif ch == "]":
                    depth -= 1
                    if depth == 0:
                        groups.append(buf)
                elif depth > 0:
                    buf += ch
            if len(groups) < 2 or (
                len(groups) == 2
                and re.search(r" (ASC|DESC) ", groups[-1])
            ):
                bad.append(s[:160])
            break
    return bad


def test_global_registry_plan_invariants(spark, qs):
    """Round 10 (third invariant round 11): the engine-wide plan
    invariants, enforced across EVERY registry query (not just the
    pointed per-query contracts above, so future registry additions
    inherit them automatically):

    - NO row-at-a-time Python anywhere (BatchEvalPython) — every
      Python kernel in this engine is Arrow-batched (pandas_udf /
      applyInPandas / mapInPandas), the 10-100x rule;
    - NO CartesianProduct anywhere — every join is keyed or an
      intended parameter-sized broadcast nested loop;
    - NO unpartitioned sorted Window anywhere (round 11, VERDICT
      item 4) — a ``Window.orderBy`` without ``partitionBy`` drags
      the whole table through ONE task; the last holdout (the
      web_curation harness's dense domain id) was replaced with an
      md5-partner equi-join.

    Builds (not executes) all 53 plans at sf0.001; driver-action-
    paced rows (SMET fleet write, CC rounds, tokenizer training)
    do their driver work once here, which is what keeps this sweep
    seconds-scale."""
    # The one sanctioned global sorted window: pack_sequences' phase-2
    # exclusive prefix over the PER-BUCKET TOTALS table (`__tot`) —
    # exactly n_buckets rows by construction (that table being
    # parameter-sized is the whole point of the two-phase prefix sum;
    # the corpus-sized phase-3 window is partitioned by bucket). Any
    # new global window over a different column set still fails.
    allowed = {("pack_sequences", "__tot")}
    violations = []
    for name, fn in qs.items():
        plan = _plan(fn(spark, SF_DIR))
        for pat in ("BatchEvalPython", "CartesianProduct"):
            if pat in plan:
                violations.append((name, pat))
        for arg in _unpartitioned_windows(plan):
            if any(n == name and marker in arg for n, marker in allowed):
                continue
            violations.append((name, f"global window: {arg}"))
    assert not violations, violations


def test_plan_contract_repetition_stats_single_kernel_eval(spark):
    """Round 13 (guide §4.4): the short-doc dropout filter references
    the Arrow kernel's output; without the asNondeterministic guard
    the optimizer pushes a copy of the filter below the projection and
    the plan carries the SAME _kern ArrowEvalPython twice — every
    document paying the kernel double. Pin: exactly ONE ArrowEvalPython
    in the op's plan (and still one Filter above it)."""
    from melodist_spark.pipeline.text import repetition_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(repetition_stats(docs))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_plan_contract_ann_kernels_not_duplicated(spark):
    """Round 13 (guide §4.4, the join-key edition): candidate
    equi-joins null-reject their keys, and the pushed isnotnull used
    to clone the bucket/encode ArrowEvalPython so every vector paid
    the matmul per REFERENCE, not per row — neardup_pairs carried 4
    evaluations of the same _bucket kernel (2 per join side). The
    asNondeterministic guard on lsh_bucket_udf / embedding_index's
    _buckets / pq_encode pins them to one evaluation per side.
    (ivf_assign's _cell deliberately stays deterministic — see the
    NOTE in similarity.py: flagging it broke semantic_dedup's shared
    sized-window subtree, measured +80%.)"""
    from melodist_spark.pipeline.similarity import neardup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(
        neardup_pairs(
            emb, dim=64, threshold=0.3, num_planes=8, max_bucket=4096
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 2, plan


def test_registry_python_eval_counts_pinned(spark, qs):
    """Round 14 (guide §4.4, VERDICT r13 item 8): registry-wide pin of
    the Python-eval NODE count per query plan at sf0.001 — the two
    §4.4 duplications found in round 13 (repetition_stats' pushed
    filter, the ANN join-key clones) were silent 2-4x kernel
    multiplications that only a plan count catches. Any future count
    GROWTH (an optimizer rule cloning a kernel, a lost
    asNondeterministic flag, a new filter referencing kernel output)
    fails here and must be either fixed or consciously re-pinned with
    a justification.

    The non-zero rows, audited this round (wind_cosine_fit is an OLS
    aggregate, cascade_calibration and cascade_disagg windows and
    aggregations, so their ceiling is 0): embedding_neardup 2 =
    the same _bucket once per self-join side (runtime exchange reuse
    dedups the shuffle; a localCheckpoint variant measured flat, see
    OPTIMIZATION_r14.md); ann_topk 6 = per-branch encode/bucket/score
    kernels across the five methods; repetition_stats 2 = _kern on
    raw text AND on the _mk_multi concatenation (different inputs,
    not duplication); doc_sample/text_features/web_curation/
    unigram_tokenize 1 each. Counts are SF-dependent (broadcast-vs-
    join decision boundaries) and can drop below the ceiling when a
    lazily-localCheckpointed kernel has already materialized in the
    session (the plan then reads Scan ExistingRDD), so the pin is a
    CEILING per row at SF_DIR, not an equality."""
    ceiling = {
        "embedding_neardup": 2,
        "ann_topk": 6,
        "doc_sample": 1,
        "doc_perplexity": 1,
        "text_features": 1,
        "web_curation": 1,
        "repetition_stats": 2,
        "tokenize_apply": 2,
        "bpe_tokenize": 1,
        "unigram_tokenize": 1,
        "multimodal_hist": 1,
    }
    pat = re.compile(
        r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|"
        r"FlatMapGroupsInPandas|MapInArrow)"
    )
    over = {}
    for name, fn in qs.items():
        n = len(pat.findall(_plan(fn(spark, SF_DIR))))
        if n > ceiling.get(name, 0):
            over[name] = (ceiling.get(name, 0), n)
    assert not over, f"python-eval nodes over the audited ceiling: {over}"
