"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator from SURVEY.md §2 (or a
training-data-pipeline operator) on the driver's synthetic tables, and
``oracle_sql()`` provides the equivalent DuckDB SQL. Column names and
types are aligned on both sides; doubles are rounded (6 digits for
per-row math, 2-3 for large sums) so engine-level fp accumulation
differences can't flip the value hash.

The met-shaped inputs are derived deterministically from ``events``:
``temp = 250 + value*0.2`` [K], ``hum = 20 + mod(value, 60)`` [%],
``precip = max(value - 300, 0)`` [mm] — this gives both branches of the
physics formulas and wet/dry day variety.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from melodist_spark.util.planmemo import PlanMemo

# Plan-build latency: the variant-union rows build deep
# BY-NAME expression trees (sine batteries, vapor-pressure ratios,
# explode-of-structs) costing 1-3k py4j round-trips per build; they
# are context-free, so one build per application suffices — same
# policy as the operator-level memos in util.planmemo.
_ENTRY_EXPR_MEMO = PlanMemo()

LON, LAT, TZ = 8.86, 51.0, 1.0


# Base-frame memo: building a DataFrame is hundreds of py4j
# round-trips (~0.5 s for the met frames — measured ~90% of a met
# query's "planning" wall is Python-side expression construction, not
# Catalyst), and every met query starts from the identical
# _met_hourly/_met_daily subplan. DataFrames are immutable, so the
# built object is safely reusable; the key includes applicationId so
# a fresh SparkContext in the same process never sees another
# context's frames.
_FRAME_CACHE: dict = {}


def _frame_memo(spark: SparkSession, sf_dir: str, kind: str, build):
    k = (spark.sparkContext.applicationId, sf_dir, kind)
    df = _FRAME_CACHE.get(k)
    if df is None:
        df = build()
        _FRAME_CACHE[k] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _frame_memo(spark, sf_dir, "events", lambda: _events_build(spark, sf_dir))


def _events_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.parquet stores TIMESTAMP(NANOS) which Spark rejects by
    # default; read nanos as long and truncate to microseconds (what
    # DuckDB's TIMESTAMP does too). Session tz pinned to UTC so
    # hour()/to_date() agree with DuckDB's tz-naive semantics even if
    # the driver's session defaults elsewhere.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(e.dtypes)["ts"] == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e


def _met_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _frame_memo(
        spark, sf_dir, "met_hourly", lambda: _met_hourly_build(spark, sf_dir)
    )


def _met_hourly_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → met-shaped hourly-ish observations."""
    e = _events(spark, sf_dir)
    # event_id/value ride along for the event-grain compounds
    # (window_primitives); Catalyst prunes them everywhere else
    return e.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("ts"),
        F.col("value"),
        (250.0 + F.col("value") * 0.2).alias("temp"),
        (20.0 + F.col("value") - F.floor(F.col("value") / 60.0) * 60.0).alias("hum"),
        F.greatest(F.col("value") - 300.0, F.lit(0.0)).alias("precip"),
        F.least(F.lit(900.0), F.col("value") * 3.0).alias("glob"),
    )


def _met_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        from melodist_spark.operators.aggregations import daily_from_hourly

        return daily_from_hourly(_met_hourly(spark, sf_dir), keys=["user_id"])

    return _frame_memo(spark, sf_dir, "met_daily", build)


_MET_HOURLY_SQL = """
    SELECT event_id, user_id, ts, value,
           250.0 + value * 0.2 AS temp,
           20.0 + value - floor(value / 60.0) * 60.0 AS hum,
           greatest(value - 300.0, 0.0) AS precip,
           least(900.0, value * 3.0) AS "glob"
    FROM events
"""

_MET_DAILY_SQL = f"""
    SELECT user_id, CAST(ts AS DATE) AS date,
           avg(temp) AS temp, min(temp) AS tmin, max(temp) AS tmax,
           sum(precip) AS precip,
           avg(hum) AS hum, min(hum) AS hum_min, max(hum) AS hum_max,
           avg("glob") AS "glob"
    FROM ({_MET_HOURLY_SQL}) GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_temp_sine_disagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: daily→hourly temperature, sine_min_max / fixed 7h-14h
    (SURVEY.md §2, `temperature.py:61-171`)."""
    from melodist_spark.operators.temperature import disaggregate_temperature

    daily = _met_daily(spark, sf_dir)
    out = disaggregate_temperature(
        daily, method="sine_min_max", min_max_time="fix", keys=["user_id"]
    )
    return out.select(
        "user_id", "ts", F.round("temp", 6).alias("temp_h")
    )


def q_sun_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sunrise/noon/sunset/daylength (`util/util.py:160-246`)."""
    from melodist_spark.functions.solar import sun_times_exprs

    d = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderdate").alias("date"))
        .distinct()
    )
    e = sun_times_exprs("date", LON, LAT, TZ)
    return d.select(
        "date",
        F.round(e["sunrise"], 6).alias("sunrise"),
        F.round(e["sunnoon"], 6).alias("sunnoon"),
        F.round(e["sunset"], 6).alias("sunset"),
        F.round(e["daylength"], 6).alias("daylength"),
    )


def q_month_hour_wet_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical (month, hour, wet-day) humidity means
    (`humidity.py:133-141`)."""
    from melodist_spark.operators.aggregations import month_hour_precip_mean

    m = _met_hourly(spark, sf_dir)
    out = month_hour_precip_mean(m, keys=["user_id"])
    return out.select(
        "user_id",
        F.col("month").cast("long").alias("month"),
        F.col("hour").cast("long").alias("hour"),
        "wet",
        F.round("hum_mean", 6).alias("hum_mean"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+agg (engine exercise: pushdown, partial
    aggregation, codegen)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


#: deterministic non-Latin probes for the script-ID differential (the
#: corpus is ASCII, so rows doc_id % 5 == 0 are swapped for one of
#: these, rotating by doc_id % 3 — script_pred then genuinely varies)
_SCRIPT_PROBES = (
    "Привет мир это тест",
    "你好世界这是测试",
    "مرحبا بالعالم هذا اختبار",
)


def _script_probe_sql() -> str:
    """The script-ID probe column as DuckDB SQL (mirror of the Spark
    CASE in q_text_features)."""
    p = _SCRIPT_PROBES
    return (
        "CASE WHEN doc_id % 5 = 0 THEN "
        f"(CASE WHEN doc_id % 3 = 0 THEN '{p[0]}' "
        f"WHEN doc_id % 3 = 1 THEN '{p[1]}' ELSE '{p[2]}' END) "
        "ELSE text END"
    )


def _script_count_sql() -> str:
    """Per-script count expressions over ``probe`` — the SAME literal
    character classes the Spark side uses (Java regex and RE2 parse
    them identically)."""
    from melodist_spark.pipeline.text import SCRIPT_RANGES, script_class

    return ",\n                     ".join(
        f"CAST(length(probe) - length(regexp_replace(probe, "
        f"'{script_class(s)}', '', 'g')) AS BIGINT) AS n_{s}"
        for s in SCRIPT_RANGES
    )


def _script_pred_sql() -> str:
    """Argmax script with the Spark tie rule (highest count, then
    alphabetically LAST): greatest() + a reverse-alphabetical CASE."""
    from melodist_spark.pipeline.text import SCRIPT_RANGES

    scripts = sorted(SCRIPT_RANGES)
    g = "greatest(" + ", ".join(f"sc.n_{s}" for s in scripts) + ")"
    arms = " ".join(
        f"WHEN sc.n_{s} = {g} THEN '{s}'" for s in reversed(scripts)
    )
    return f"CASE WHEN {g} <= 0 THEN 'und' {arms} END"


def q_embedding_topk(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    """ANN baseline and scale path in one frame, tagged by method:
    ``brute`` — exact cosine top-5 (broadcast query set over one
    corpus scan) — and ``ivf`` — the same queries coarse-quantized to
    the nearest label-cell centroid with exact re-rank inside the
    probed cell only (partition-pruning ANN). One row per
    (method, query, rank); comparing the two methods per query IS the
    recall measurement (subsumes the former ``ivf_topk`` row).
    ``emb`` lets ann_topk inject its shared materialized scan."""
    from melodist_spark.pipeline.similarity import brute_force_topk, ivf_topk

    if emb is None:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)

    def shaped(method: str, out: DataFrame) -> DataFrame:
        return out.select(
            F.lit(method).alias("method"),
            "query_id",
            "neighbor_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )

    return shaped("brute", brute_force_topk(emb, queries, k=5)).unionByName(
        shaped("ivf", ivf_topk(emb, queries, k=5))
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_temp_sine_disagg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry: one Spark plan per key, in a fixed order.

    The correctness gate checks the first 51 keys, each against its
    ``oracle_sql()`` twin. The last two rows have no possible SQL
    oracle and are pinned by tests instead: ``bpe_tokenize`` /
    ``unigram_tokenize`` (iterative training, where step k depends on
    step k-1)."""
    return {
        "temp_sine_disagg": q_temp_sine_disagg,
        "temp_sine_variants": q_temp_sine_variants,
        "temp_course_variants": q_temp_course_variants,
        "humidity_variants": q_humidity_variants,
        "tokenize_apply": q_tokenize_apply,
        "humidity_dewpoint": q_humidity_dewpoint,
        "humidity_mhpm": q_humidity_mhpm,
        "radiation_proxy_variants": q_radiation_proxy_variants,
        "radiation_potrad": q_radiation_potrad,
        "angstroem_fit": q_angstroem_fit,
        "wind_cosine_fit": q_wind_cosine_fit,
        "wind_variants": q_wind_variants,
        "precip_masterstation": q_precip_masterstation,
        "cascade_disagg": q_cascade_disagg,
        "cascade_calibration": q_cascade_calibration,
        "smet_roundtrip": q_smet_roundtrip,
        "api_pipeline": q_api_pipeline,
        "multimodal_hist": q_multimodal_hist,
        "embedding_neardup": q_embedding_neardup,
        "ann_topk": q_ann_topk,
        "semantic_dedup": q_semantic_dedup,
        "quality_classifier": q_quality_classifier,
        "minhash_pairs": q_minhash_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "dup_clusters": q_dup_clusters,
        "line_dedup": q_line_dedup,
        "span_removal": q_span_removal,
        "doc_perplexity": q_doc_perplexity,
        "pmi_collocations": q_pmi_collocations,
        "pack_sequences": q_pack_sequences,
        "decontaminate": q_decontaminate,
        "weighted_mixture": q_weighted_mixture,
        "benchmark_leakage": q_benchmark_leakage,
        "doc_sample": q_doc_sample,
        "vocab_topk": q_vocab_topk,
        "text_features": q_text_features,
        "text_curation": q_text_curation,
        "web_curation": q_web_curation,
        "robots_eval": q_robots_eval,
        "repetition_stats": q_repetition_stats,
        "window_primitives": q_window_primitives,
        "interpolate": q_interpolate,
        "dyadic_calendars": q_dyadic_calendars,
        "gap_analysis": q_gap_analysis,
        "asof_attribution": q_asof_attribution,
        "sun_times": q_sun_times,
        "month_hour_wet_mean": q_month_hour_wet_mean,
        "validation_metrics": q_validation_metrics,
        "streaming_daily_agg": q_streaming_daily_agg,
        "pricing_summary": q_pricing_summary,
        "wind_random": q_wind_random,
        "bpe_tokenize": q_bpe_tokenize,
        "unigram_tokenize": q_unigram_tokenize,
    }


def _pagerank_ctes(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled PageRank iterations as DuckDB CTEs over an ``edges``
    (src, dst) CTE — the oracle twin of ``pipeline/graph.py::
    pagerank``. Every float op mirrors the Spark side exactly
    (CAST(.. AS DOUBLE) everywhere a DuckDB literal would otherwise
    parse as DECIMAL and change the arithmetic)."""
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        """
            gn AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
            gdeg AS (
              SELECT n.node, coalesce(d.c, 0) AS deg
              FROM gn n
              LEFT JOIN (SELECT src, count(*) AS c FROM edges GROUP BY 1) d
                ON d.src = n.node
            ),
            gcnt AS (SELECT count(*) AS nn FROM gn),
            pr0 AS (
              SELECT node, CAST(1 AS DOUBLE) / nn AS r
              FROM gn CROSS JOIN gcnt
            ),"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""
            pr{i} AS (
              SELECT g.node,
                     (CAST(1 AS DOUBLE) - {d}) / c.nn
                     + {d} * (coalesce(ct.contrib, 0)
                              + dg.mass / CAST(c.nn AS DOUBLE)) AS r
              FROM gn g
              CROSS JOIN gcnt c
              CROSS JOIN (SELECT coalesce(sum(p.r), 0) AS mass
                          FROM pr{i - 1} p JOIN gdeg d ON d.node = p.node
                          WHERE d.deg = 0) dg
              LEFT JOIN (SELECT e.dst AS node, sum(p.r / d.deg) AS contrib
                         FROM edges e
                         JOIN pr{i - 1} p ON p.node = e.src
                         JOIN gdeg d ON d.node = e.src
                         GROUP BY 1) ct ON ct.node = g.node
            ),""")
    return "".join(parts)


#: DuckDB twin of q_robots_eval — derives the rule table the robots
#: parser must produce (per-domain, per-agent) RELATIONALLY from the
#: same parquet columns, then replays the RFC 9309 precedence fold
#: (longest match wins, allow wins ties) with a window. Patterns are
#: encoded by matcher kind: 'prefix' → starts_with (the pure-prefix
#: rules, incl. '/tie*' whose regex '^/tie.*' is exactly a prefix
#: test), 're' → regexp_matches (the '*'/'$' patterns).
_ROBOTS_EVAL_SQL = r"""
    WITH doms AS (
      SELECT DISTINCT source, CAST(substr(source, 4) AS INT) AS h
      FROM documents
    ),
    rdoms AS (SELECT * FROM doms WHERE h % 5 <> 4),
    rules AS (
      SELECT d.source, 'othercrawler' AS agent,
             s.kind, s.arg, s.allow, CAST(s.spec AS BIGINT) AS spec
      FROM rdoms d CROSS JOIN (VALUES
        ('prefix', '/private/',    false,  9),
        ('prefix', '/private/pub', true,  12),
        ('re',     '^/.*\.tmp$',   false,  7),
        ('prefix', '/tie/',        true,   5),
        ('prefix', '/tie',         false,  5)
      ) s(kind, arg, allow, spec)
      UNION ALL
      SELECT source, 'melobot', 'prefix', '/sec' || h || '/', false,
             CAST(length('/sec' || h || '/') AS BIGINT)
      FROM rdoms
      UNION ALL
      SELECT source, 'melobot', 'prefix', '/sec' || h || '/ok', true,
             CAST(length('/sec' || h || '/ok') AS BIGINT)
      FROM rdoms
      UNION ALL
      SELECT source, 'melobot', 're', '^/t/.*\.log$', false, 9 FROM rdoms
    ),
    probe AS (
      SELECT a.agent, d.doc_id, d.source AS domain,
             CASE d.doc_id % 7
               WHEN 0 THEN '/private/doc' || d.doc_id
               WHEN 1 THEN '/private/pub' || d.doc_id
               WHEN 2 THEN '/f' || d.doc_id || '.tmp'
               WHEN 3 THEN '/f' || d.doc_id || '.tmp.bak'
               WHEN 4 THEN '/sec' || substr(d.source, 4) || '/p' || d.doc_id
               WHEN 5 THEN '/sec' || substr(d.source, 4) || '/ok' || d.doc_id
               ELSE '/tie/x' || d.doc_id
             END AS path
      FROM documents d
      CROSS JOIN (VALUES ('melobot'), ('othercrawler')) a(agent)
    ),
    matched AS (
      SELECT p.agent, p.doc_id, r.allow,
             row_number() OVER (PARTITION BY p.agent, p.doc_id
                                ORDER BY r.spec DESC, r.allow DESC) AS rn
      FROM probe p
      JOIN rules r ON r.source = p.domain AND r.agent = p.agent
      WHERE (r.kind = 'prefix' AND starts_with(p.path, r.arg))
         OR (r.kind = 're' AND regexp_matches(p.path, r.arg))
    ),
    best AS (SELECT agent, doc_id, allow FROM matched WHERE rn = 1),
    nmaps AS (
      SELECT source, CAST(1 + h % 2 AS BIGINT) AS n_sitemaps FROM rdoms
    )
    SELECT p.agent, p.doc_id, p.domain, p.path,
           coalesce(b.allow, true) AS crawlable,
           n.n_sitemaps
    FROM probe p
    LEFT JOIN best b ON b.agent = p.agent AND b.doc_id = p.doc_id
    LEFT JOIN nmaps n ON n.source = p.domain
"""


#: DuckDB twin of q_weighted_mixture — replays the mixture draw's
#: exact arithmetic: per-source targets w/sum(w)*n_total with sizes
#: from the same group counts, IEEE floor(target/n_s) full epochs
#: (mixing.py uses math.floor of the double quotient for exactly this
#: engine portability), the md5-prefix 60-bit uniform u(seed,name,id)
#: = ('0x'||substr(md5(seed║name║id),1,15))::BIGINT / 2^60 < frac
#: fractional draw (║ = chr(31), mirroring concat_ws('\\x1f', ...)),
#: and the epoch fan-out via generate_series (empty when a doc draws
#: zero epochs). Weights 0.625/0.25/0.125 are exact binary doubles so
#: wsum is exactly 1.0 in any summation order on both engines.
_WEIGHTED_MIXTURE_SQL = """
    WITH d AS (SELECT doc_id, doc_id % 3 AS g FROM documents),
    c AS (SELECT g, count(*) AS n_s FROM d GROUP BY g),
    t AS (SELECT 2 * sum(n_s) AS n_total FROM c),
    w AS (
      SELECT * FROM (VALUES
        (0, 'wiki',  CAST(0.625 AS DOUBLE)),
        (1, 'web',   CAST(0.25  AS DOUBLE)),
        (2, 'books', CAST(0.125 AS DOUBLE))
      ) v(g, name, wt)
    ),
    ws AS (SELECT sum(wt) AS wsum FROM w),
    par AS (
      SELECT w.g, w.name,
             floor(w.wt / ws.wsum * t.n_total / c.n_s) AS fullep,
             (w.wt / ws.wsum * t.n_total
              - floor(w.wt / ws.wsum * t.n_total / c.n_s) * c.n_s)
             / c.n_s AS frac
      FROM w JOIN c ON c.g = w.g CROSS JOIN t CROSS JOIN ws
    ),
    drawn AS (
      SELECT d.doc_id, p.name AS source,
             CAST(p.fullep AS BIGINT) - 1
             + CASE WHEN
                 CAST(('0x' || substr(md5(
                   '0' || chr(31) || p.name || chr(31)
                       || CAST(d.doc_id AS VARCHAR)
                 ), 1, 15)) AS BIGINT)
                 / CAST(1152921504606846976 AS DOUBLE) < p.frac
               THEN 1 ELSE 0 END AS last_ep
      FROM d JOIN par p ON p.g = d.g
    )
    SELECT doc_id, source,
           unnest(generate_series(CAST(0 AS BIGINT), last_ep)) AS epoch
    FROM drawn
    WHERE last_ep >= 0
"""


#: DuckDB twin of q_benchmark_leakage — the same distinct-5-gram
#: md5-prefix hashes as the decontaminate oracle, aggregated per
#: BENCHMARK document over the hit join, with zero-hit benchmark rows
#: restored by the per-bench gram-count left join.
_BENCHMARK_LEAKAGE_SQL = r"""
    WITH lists AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      FROM documents
    ),
    grams0 AS (
      SELECT DISTINCT doc_id,
             l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                  || l[i+3] || ' ' || l[i+4] AS w
      FROM lists, unnest(generate_series(1, len(l) - 4)) AS t(i)
    ),
    grams AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS g
      FROM grams0
    ),
    bench AS (
      SELECT doc_id AS bench_doc_id, g FROM grams WHERE doc_id % 41 = 0
    ),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % 41 <> 0),
    per_bench AS (
      SELECT bench_doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM bench GROUP BY 1
    ),
    hits AS (
      SELECT b.bench_doc_id, t.g, t.doc_id
      FROM train t JOIN bench b USING (g)
    ),
    agg AS (
      SELECT bench_doc_id,
             CAST(count(DISTINCT g) AS BIGINT) AS n_grams_leaked,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train_docs
      FROM hits GROUP BY 1
    )
    SELECT p.bench_doc_id, p.n_grams,
           coalesce(a.n_grams_leaked, 0) AS n_grams_leaked,
           coalesce(a.n_train_docs, 0) AS n_train_docs,
           round(coalesce(a.n_grams_leaked, 0) * 1.0 / p.n_grams, 6)
             AS leak_frac,
           coalesce(a.n_grams_leaked, 0) = 0 AS clean
    FROM per_bench p LEFT JOIN agg a USING (bench_doc_id)
"""


def _tokenize_apply_sql() -> str:
    """DuckDB twin of q_tokenize_apply: REPLAYS both encoders over
    the bounded word-type table rather than embedding any
    precomputed segmentations —

    - BPE: a recursive CTE runs the exact greedy loop (merge the
      LOWEST-RANK adjacent pair, leftmost on equal rank, until no
      table pair remains), one merge per recursion step, on the
      char+'</w>' symbol list of every distinct word;
    - Unigram: a recursive DP carries each word's Viterbi state
      (best score + best path per prefix length) and extends it one
      character per step, scanning back up to max_piece_len=8 with
      the same strictly-greater/leftmost tie-break and the
      single-char UNK_LOGP=-100 fallback as viterbi_segment;

    the per-word segmentations then join back to the ordered doc
    word stream (same ASCII ``\\s+`` split + trim + lower as
    word_counts / the encoders) and aggregate to the per-doc piece
    count and newline-joined digest. Model literals come from
    pipeline/pinned.py; score sums accumulate in the same prefix
    order as the Python encoder, so double arithmetic (and its ties)
    is bit-identical."""
    from melodist_spark.pipeline.pinned import BPE_MERGES, UNIGRAM_PIECES

    def esc(s: str) -> str:
        return s.replace("'", "''")

    merge_vals = ",\n              ".join(
        f"({i}, '{esc(a)}', '{esc(b)}')"
        for i, (a, b) in enumerate(BPE_MERGES)
    )
    piece_vals = ",\n              ".join(
        f"('{esc(p)}', {lp!r})" for p, lp in sorted(UNIGRAM_PIECES.items())
    )
    return f"""
        WITH RECURSIVE
        d0 AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
               FROM documents),
        words AS (
          SELECT doc_id, i, l[i] AS w
          FROM d0, unnest(generate_series(1, len(l))) t(i)
          WHERE l[i] <> ''
        ),
        wt AS (SELECT DISTINCT w FROM words),
        merges(rank, ml, mr) AS (VALUES {merge_vals}),
        pieces(piece, logp) AS (VALUES {piece_vals}),
        brec AS (
          SELECT w, list_append(string_split_regex(w, ''), '</w>') AS syms FROM wt
          UNION ALL
          SELECT w,
                 list_concat(list_concat(syms[1:bi-1], [syms[bi] || syms[bi+1]]),
                             syms[bi+2:len(syms)]) AS syms
          FROM (
            SELECT w, syms,
              (SELECT i
               FROM unnest(generate_series(1, len(b.syms)-1)) t(i)
               JOIN merges m ON m.ml = b.syms[i] AND m.mr = b.syms[i+1]
               ORDER BY m.rank, i LIMIT 1) AS bi
            FROM brec b
          ) WHERE bi IS NOT NULL
        ),
        bdone AS (
          SELECT w, syms FROM brec b
          WHERE NOT EXISTS (
            SELECT 1 FROM unnest(generate_series(1, len(b.syms)-1)) t(i)
            JOIN merges m ON m.ml = b.syms[i] AND m.mr = b.syms[i+1]
          )
        ),
        urec AS (
          SELECT w, 0 AS j, [0.0]::DOUBLE[] AS scores,
                 [[]::VARCHAR[]] AS paths
          FROM wt
          UNION ALL
          SELECT w, j+1,
                 list_append(scores, best.s),
                 list_append(paths, list_append(best.pth, best.pc))
          FROM (
            SELECT w, j, scores, paths,
              (SELECT struct_pack(s := u.scores[i+1] + lp,
                                  pth := u.paths[i+1],
                                  pc := pc)
               FROM (
                 SELECT i, pc,
                        coalesce((SELECT p.logp FROM pieces p WHERE p.piece = pc),
                                 CASE WHEN u.j+1-i = 1 THEN -100.0 END) AS lp
                 FROM (
                   SELECT i, substr(u.w, i+1, u.j+1-i) AS pc
                   FROM unnest(generate_series(greatest(0, u.j+1-8), u.j)) t(i)
                 )
               ) WHERE lp IS NOT NULL
               ORDER BY u.scores[i+1] + lp DESC, i ASC LIMIT 1) AS best
            FROM urec u WHERE j < len(w)
          )
        ),
        udone AS (
          SELECT w, paths[len(w)+1] AS syms FROM urec WHERE j = len(w)
        ),
        bagg AS (
          SELECT wo.doc_id,
                 CAST(sum(len(d.syms)) AS BIGINT) AS n_pieces,
                 md5(string_agg(array_to_string(d.syms, chr(10)), chr(10) ORDER BY wo.i)) AS pieces_md5
          FROM words wo JOIN bdone d ON d.w = wo.w
          GROUP BY wo.doc_id
        ),
        uagg AS (
          SELECT wo.doc_id,
                 CAST(sum(len(d.syms)) AS BIGINT) AS n_pieces,
                 md5(string_agg(array_to_string(d.syms, chr(10)), chr(10) ORDER BY wo.i)) AS pieces_md5
          FROM words wo JOIN udone d ON d.w = wo.w
          GROUP BY wo.doc_id
        )
        -- anchored on d0 (the way _span_removal_sql anchors its
        -- output): an empty / whitespace-only document yields no
        -- `words` row, but the Spark encoders still emit an
        -- n_pieces=0, md5('') row per doc
        SELECT 'bpe' AS method, d.doc_id,
               CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
               coalesce(a.pieces_md5, md5('')) AS pieces_md5
        FROM d0 d LEFT JOIN bagg a ON a.doc_id = d.doc_id
        UNION ALL
        SELECT 'unigram' AS method, d.doc_id,
               CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
               coalesce(a.pieces_md5, md5('')) AS pieces_md5
        FROM d0 d LEFT JOIN uagg a ON a.doc_id = d.doc_id
    """


def _span_removal_sql(span: int = 6) -> str:
    """DuckDB twin of q_span_removal — REPLAYS the whole ExactSubstr
    detect+excise round rather than pinning outputs: per-position
    md5-prefix gram hashes (the portable family
    ``_gram_positions(portable=True)`` computes JVM-side), corpus
    counts ≥ 2, the min-(doc_id, pos) keeper per duplicated gram,
    positional coverage of the non-keeper hits, and the token-level
    excision re-aggregated in order. Untouched docs keep their
    ORIGINAL text bytes (the Spark op only re-joins touched docs) —
    the twin mirrors that branch so the md5s agree byte-for-byte.
    Unioned with :func:`_span_fixpoint_sql`, the two-round
    replay of the junction fixpoint on the engineered template
    corpus — the branch pair mirrors q_span_removal's."""
    return f"""
        SELECT * FROM ({_span_single_sql(span)})
        UNION ALL
        SELECT * FROM ({_span_single_sql(span, keep_first=False)})
        UNION ALL
        SELECT * FROM ({_span_fixpoint_sql(span)})
    """


def _span_single_sql(span: int = 6, keep_first: bool = True) -> str:
    method = "single" if keep_first else "removeall"
    where = "" if keep_first else "WHERE doc_id % 5 = 0"
    cut_sql = (
        """
          SELECT h.doc_id, h.p FROM hits h
          WHERE NOT EXISTS (
            SELECT 1 FROM keepers k
            WHERE k.gh = h.gh AND k.doc_id = h.doc_id AND k.p = h.p
          )
        """
        if keep_first
        # keep_first=False: EVERY duplicated-gram occurrence is cut
        else "SELECT doc_id, p FROM hits"
    )
    return f"""
        WITH d0 AS (SELECT doc_id, text,
                           string_split_regex(trim(text), '\\s+') AS l
                    FROM documents {where}),
        words AS (
          SELECT doc_id, i, l[i] AS w
          FROM d0, unnest(generate_series(1, len(l))) t(i)
        ),
        grams AS (
          SELECT doc_id, i-1 AS p,
                 ('0x'||substr(md5(array_to_string(l[i:i+{span}-1], ' ')),1,15))::BIGINT AS gh
          FROM d0, unnest(generate_series(1, len(l)-{span}+1)) t(i)
        ),
        dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
        hits AS (SELECT g.doc_id, g.p, g.gh FROM grams g JOIN dup USING (gh)),
        keepers AS (
          SELECT gh, doc_id, p FROM (
            SELECT gh, doc_id, p,
                   row_number() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn
            FROM hits
          ) WHERE rn = 1
        ),
        cut AS ({cut_sql}),
        covered AS (
          SELECT DISTINCT w.doc_id, w.i FROM words w
          JOIN cut c ON c.doc_id = w.doc_id
                    AND w.i - 1 BETWEEN c.p AND c.p + {span} - 1
        ),
        touched AS (SELECT DISTINCT doc_id FROM cut),
        kept AS (
          SELECT w.doc_id, w.i, w.w FROM words w
          JOIN touched t ON t.doc_id = w.doc_id
          WHERE NOT EXISTS (
            SELECT 1 FROM covered c WHERE c.doc_id = w.doc_id AND c.i = w.i
          )
        ),
        tagg AS (
          SELECT doc_id,
                 coalesce(string_agg(w, ' ' ORDER BY i), '') AS new_text,
                 count(*) AS n_kept_all,
                 count(*) FILTER (w <> '') AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT '{method}' AS method, d.doc_id,
               CAST(CASE WHEN t.doc_id IS NULL THEN 0
                    ELSE len(d.l) - coalesce(a.n_kept_all, 0) END AS BIGINT) AS n_tokens_removed,
               CAST(CASE WHEN t.doc_id IS NULL
                    THEN len(list_filter(d.l, x -> x <> ''))
                    ELSE coalesce(a.n_kept, 0) END AS BIGINT) AS n_tokens_kept,
               md5(CASE WHEN t.doc_id IS NULL THEN d.text
                   ELSE coalesce(a.new_text, '') END) AS clean_md5
        FROM d0 d
        LEFT JOIN touched t ON t.doc_id = d.doc_id
        LEFT JOIN tagg a ON a.doc_id = d.doc_id
    """


def _span_fixpoint_sql(span: int = 6, groups: int = 40) -> str:
    """Two-round DuckDB replay of the junction FIXPOINT on the
    engineered template corpus q_span_removal builds (G span owners +
    G template pages around global 5-token affixes): each round is
    the same detect+excise chain as :func:`_span_single_sql` —
    per-position md5-prefix gram hashes, count ≥ 2, min-(doc_id, pos)
    keeper, positional coverage, list excision — chained on the TOKEN
    LIST (valid because every engineered token is non-empty, so
    Spark's join-then-resplit equals the list filter), with the
    removed-count audit accumulated across rounds exactly as the
    Spark op accumulates ``__cum_removed``. Round 1 excises the
    quoted spans, round 2 the junction residual the excisions create
    — so the hash gate pins a NONZERO second-round excision, not just
    single-round behavior."""
    span_toks = ", ".join(f"'s'||g||'{c}'" for c in "abcdefgh")
    rounds = []
    for k in range(2):
        rounds.append(f"""
        grams{k} AS (
          SELECT doc_id, i-1 AS p,
                 ('0x'||substr(md5(array_to_string(l[i:i+{span}-1], ' ')),1,15))::BIGINT AS gh
          FROM r{k}, unnest(generate_series(1, len(l)-{span}+1)) t(i)
        ),
        dup{k} AS (SELECT gh FROM grams{k} GROUP BY gh HAVING count(*) >= 2),
        hits{k} AS (SELECT g.doc_id, g.p, g.gh FROM grams{k} g JOIN dup{k} USING (gh)),
        keep{k} AS (
          SELECT gh, doc_id, p FROM (
            SELECT gh, doc_id, p,
                   row_number() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn
            FROM hits{k}
          ) WHERE rn = 1
        ),
        cut{k} AS (
          SELECT h.doc_id, h.p FROM hits{k} h
          WHERE NOT EXISTS (
            SELECT 1 FROM keep{k} kp
            WHERE kp.gh = h.gh AND kp.doc_id = h.doc_id AND kp.p = h.p
          )
        ),
        touched{k} AS (SELECT DISTINCT doc_id FROM cut{k}),
        kept{k} AS (
          SELECT w.doc_id, w.i, w.w
          FROM (SELECT doc_id, i, l[i] AS w
                FROM r{k}, unnest(generate_series(1, len(l))) t(i)) w
          JOIN touched{k} t ON t.doc_id = w.doc_id
          WHERE NOT EXISTS (
            SELECT 1 FROM cut{k} c
            WHERE c.doc_id = w.doc_id AND w.i - 1 BETWEEN c.p AND c.p + {span} - 1
          )
        ),
        kagg{k} AS (
          SELECT doc_id, list(w ORDER BY i) AS l2, count(*) AS nk
          FROM kept{k} GROUP BY doc_id
        ),
        r{k + 1} AS (
          SELECT r.doc_id,
                 CASE WHEN t.doc_id IS NULL THEN r.l
                      ELSE coalesce(a.l2, []::VARCHAR[]) END AS l,
                 r.removed + CASE WHEN t.doc_id IS NULL THEN 0
                      ELSE len(r.l) - coalesce(a.nk, 0) END AS removed,
                 r.touched OR t.doc_id IS NOT NULL AS touched
          FROM r{k} r
          LEFT JOIN touched{k} t ON t.doc_id = r.doc_id
          LEFT JOIN kagg{k} a ON a.doc_id = r.doc_id
        )""")
    round_ctes = ",".join(rounds)
    return f"""
        WITH tpl AS (
          SELECT g, array_to_string([{span_toks}], ' ') AS s
          FROM (SELECT unnest(generate_series(0, {groups - 1})) AS g)
        ),
        corpus0 AS (
          SELECT CAST(g AS BIGINT) AS doc_id, s AS text FROM tpl
          UNION ALL
          SELECT CAST({groups} + g AS BIGINT),
                 'p0 p1 p2 p3 p4 ' || s || ' q0 q1 q2 q3 q4'
          FROM tpl
        ),
        r0 AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l,
                 0 AS removed, FALSE AS touched
          FROM corpus0
        ),{round_ctes}
        SELECT 'fixpoint' AS method, c.doc_id,
               CAST(r.removed AS BIGINT) AS n_tokens_removed,
               CAST(len(list_filter(r.l, x -> x <> '')) AS BIGINT) AS n_tokens_kept,
               -- array_to_string([]) is NULL in DuckDB; a fully
               -- excised doc must hash as the empty string
               md5(CASE WHEN r.touched
                   THEN coalesce(array_to_string(r.l, ' '), '')
                   ELSE c.text END) AS clean_md5
        FROM r2 r JOIN corpus0 c ON c.doc_id = r.doc_id
    """


def _radiation_bc_sql(a: float, c: float) -> str:
    """The Bristow-Campbell DuckDB twin, parameterized on (A, C) so
    the default-constant 'bc' branch and the pinned-fit 'bc_fitted'
    branch (pinned.BC_FITTED) replay the same pipeline with
    different literals."""
    return f"""
            WITH daily AS ({_MET_DAILY_SQL}),

            grid AS (
              SELECT d.user_id, d.date, d.tmin, d.tmax,
                     CAST(d.date AS TIMESTAMP) + to_hours(h.h) AS ts,
                     CAST(h.h AS DOUBLE) AS hh
              FROM daily d CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            pr AS (
              SELECT user_id, date, ts,
                     greatest(sin(radians(23.43697) * cos(2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE) - 173.0)/365.25))*sin(radians({LAT}))
                              + cos(radians(23.43697) * cos(2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE) - 173.0)/365.25))*cos(radians({LAT}))
                                * cos(pi() * (((hh + ({LON} - {TZ}*15.0)*24.0/360.0) / 12.0) - 1.0)), 0.0) AS cz,
                     2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE)/365.25) AS beta
              FROM grid
            ),
            p2 AS (
              SELECT user_id, date, ts,
                     1367.0 * (1.00011 + 0.034221*cos(beta) + 0.00128*sin(beta)
                               + 0.000719*cos(2.0*beta) + 0.000077*sin(2.0*beta))
                     * (0.6 + 0.2*cz) * cz AS pot
              FROM pr
            ),
            p3 AS (
              SELECT *, avg(pot) OVER (PARTITION BY user_id, date) AS potd
              FROM p2
            ),
            l AS (
              SELECT user_id, date, tmin, tmax,
                     CASE WHEN lead(date) OVER w IS NULL THEN tmin
                          WHEN date_diff('day', date, lead(date) OVER w) = 1 THEN lead(tmin) OVER w
                          ELSE tmin END AS tmin_next
              FROM daily
              WINDOW w AS (PARTITION BY user_id ORDER BY date)
            ),
            dt AS (
              SELECT user_id, date,
                     tmax - (tmin + tmin_next) / 2.0 AS dT
              FROM l
            ),
            bb AS (
              SELECT user_id, date, dT,
                     0.036 * exp(-0.154 * avg(dT) OVER (PARTITION BY user_id, month(date))) AS B
              FROM dt
            ),
            bc AS (
              SELECT b.user_id, b.date,
                     CASE WHEN dT < 0 THEN NULL
                          ELSE {a!r} * (1 - exp(-B * power(dT, {c!r}))) END AS trans
              FROM bb b
            ),
            j AS (
              SELECT p3.user_id, p3.ts, p3.pot, p3.potd,
                     bc.trans * p3.potd AS bc_rad
              FROM p3 JOIN bc ON p3.user_id = bc.user_id AND p3.date = bc.date
            )
            SELECT user_id, ts,
                   round(CASE WHEN (pot / potd * bc_rad) < 0.01 THEN 0.0
                         ELSE pot / potd * bc_rad END, 6) AS glob_h
            FROM j
    """


def oracle_sql() -> dict[str, str]:
    pi = "pi()"
    sun_common = f"""
        WITH d AS (SELECT DISTINCT o_orderdate AS date FROM orders),
        t AS (
          SELECT date,
                 CAST(dayofyear(date) AS DOUBLE) AS doy
          FROM d
        ),
        g AS (
          SELECT date,
                 radians((360.0/365.25) * (doy - 79.346)) AS b,
                 2 * {pi} * (doy - 1) / 365.0 AS s
          FROM t
        ),
        geo AS (
          SELECT date,
                 radians(0.3723 + 23.2567*sin(b) - 0.7580*cos(b)
                         + 0.1149*sin(2*b) + 0.3656*cos(2*b)
                         - 0.1712*sin(3*b) + 0.0201*cos(3*b)) AS decl,
                 (12.0/{pi}) * (0.000075 + 0.001868*cos(s) - 0.032077*sin(s)
                         - 0.014615*cos(2*s) - 0.040849*sin(2*s)) AS eq_time
          FROM g
        ),
        fin AS (
          SELECT date, decl, eq_time,
                 ({LON} - {TZ}*15.0) * 24.0/360.0 AS dlt,
                 -tan(radians({LAT})) * tan(decl) AS oarg
          FROM geo
        ),
        res AS (
          SELECT date,
                 12.0 - dlt - eq_time AS sunnoon,
                 CASE WHEN oarg < -1 THEN (12.0 - dlt - eq_time) - 12
                      WHEN oarg > 1 THEN 12.0 - dlt - eq_time
                      ELSE 12.0*(1.0 - acos(oarg)/{pi}) - dlt - eq_time END AS sunrise0,
                 CASE WHEN oarg < -1 THEN (12.0 - dlt - eq_time) + 12
                      WHEN oarg > 1 THEN 12.0 - dlt - eq_time
                      ELSE 12.0*(1.0 + acos(oarg)/{pi}) - dlt - eq_time END AS sunset0
          FROM fin
        )
        SELECT date,
               round(CASE WHEN sunrise0 < 0 THEN sunrise0 + 24 ELSE sunrise0 END, 6) AS sunrise,
               round(sunnoon, 6) AS sunnoon,
               round(CASE WHEN sunset0 > 24 THEN sunset0 - 24 ELSE sunset0 END, 6) AS sunset,
               round(sunset0 - sunrise0, 6) AS daylength
        FROM res
    """

    temp_sine_sql = f"""
        WITH daily AS ({_MET_DAILY_SQL}),
        loc AS (
          SELECT user_id, date, tmin, tmax,
                 CASE WHEN lead(date) OVER w IS NULL THEN tmin
                      WHEN date_diff('day', date, lead(date) OVER w) = 1 THEN lead(tmin) OVER w
                      END AS min_val_next,
                 CASE WHEN lead(date) OVER w IS NULL THEN tmax
                      WHEN date_diff('day', date, lead(date) OVER w) = 1 THEN lead(tmax) OVER w
                      END AS max_val_next,
                 CASE WHEN lag(date) OVER w IS NULL THEN tmin
                      WHEN date_diff('day', lag(date) OVER w, date) = 1 THEN lag(tmin) OVER w
                      END AS min_val_before,
                 CASE WHEN lag(date) OVER w IS NULL THEN tmax
                      WHEN date_diff('day', lag(date) OVER w, date) = 1 THEN lag(tmax) OVER w
                      END AS max_val_before
          FROM daily
          WINDOW w AS (PARTITION BY user_id ORDER BY date)
        ),
        hourly AS (
          SELECT l.*, h.h,
                 CAST(l.date AS TIMESTAMP) + to_hours(h.h) AS ts
          FROM loc l CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
        ),
        vals AS (
          SELECT user_id, ts, h,
                 CASE WHEN h < 14 THEN tmin ELSE min_val_next END AS minv,
                 CASE WHEN h < 7 THEN max_val_before ELSE tmax END AS maxv
          FROM hourly
        )
        SELECT user_id, ts,
               round((minv + (maxv - minv)/2.0)
                     + (maxv - minv)/2.0 * cos(2*{pi}/24.0 * (h - 14)), 6) AS temp_h
        FROM vals
    """

    topk_sql = """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        sims AS (
          SELECT q.query_id, c.neighbor_id,
                 list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])))) AS sim
          FROM q CROSS JOIN c
          WHERE q.query_id <> c.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM sims
        )
        SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    ivf_sql = """
            WITH flat AS (
              SELECT label,
                     CAST(unnest(generate_series(1, len(embedding))) - 1 AS BIGINT) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings
            ),
            cent AS (
              SELECT label, pos, avg(v) AS c
              FROM flat GROUP BY 1, 2
            ),
            qf AS (
              SELECT vec_id AS query_id,
                     CAST(unnest(generate_series(1, len(embedding))) - 1 AS BIGINT) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS qv
              FROM embeddings WHERE vec_id < 8
            ),
            cell AS (
              SELECT q.query_id, c.label,
                     sum(q.qv * c.c) / (sqrt(sum(q.qv * q.qv)) * sqrt(sum(c.c * c.c))) AS cell_cos
              FROM qf q JOIN cent c ON q.pos = c.pos
              GROUP BY 1, 2
            ),
            assigned AS (
              SELECT query_id, label
              FROM (
                SELECT query_id, label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cell_cos DESC, label ASC) AS rn
                FROM cell
              ) WHERE rn = 1
            ),
            q AS (
              SELECT e.vec_id AS query_id, e.embedding AS qv, a.label
              FROM embeddings e JOIN assigned a ON e.vec_id = a.query_id
            ),
            cand AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
              FROM q JOIN embeddings e ON e.label = q.label
              WHERE e.vec_id <> q.query_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM cand
            )
            SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5
    """

    stop_en = "['the','and','of','to','in','is','that','with']"
    stop_de = "['der','die','das','und','nicht','mit','ist','ein']"
    stop_es = "['el','la','los','que','de','y','en','un']"

    # Pinned model literals: the apply-only pq_topk /
    # quality_classifier rows score with these exact doubles on the
    # Spark side too (pipeline/pinned.py), so the oracle replays the
    # identical literal-weighted arithmetic. repr() round-trips
    # float64 exactly; DuckDB parses it back to the same bits.
    import numpy as _np

    from melodist_spark.pipeline.pinned import (
        IVF_CENTROIDS as _CENTS,
        LOGREG_MODEL as _LRM,
        PQ_CODEBOOKS as _BOOKS,
    )

    cb_flat = ", ".join(repr(float(v)) for v in _BOOKS.ravel())
    _cn = _CENTS / _np.maximum(
        _np.linalg.norm(_CENTS, axis=1, keepdims=True), 1e-30
    )  # pre-normalized exactly as ivf_assign/ivf_pq_topk normalize
    cn_flat = ", ".join(repr(float(v)) for v in _cn.ravel())
    _w = [repr(float(v)) for v in _LRM["weights"]]
    _mu = [repr(float(v)) for v in _LRM["mu"]]
    _sd = [repr(float(v)) for v in _LRM["sd"]]
    logreg_eta = repr(float(_LRM["intercept"])) + "".join(
        f" + ((x{j + 1} - {_mu[j]}) / {_sd[j]}) * {_w[j]}"
        for j in range(4)
    )

    minhash_cte = """
        lists AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
          FROM documents
        ),
        toks AS (
          SELECT DISTINCT doc_id,
                 l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS w
          FROM lists, unnest(generate_series(1, len(l) - 2)) AS t(i)
        ),
        h AS (
          SELECT doc_id,
                 ('0x' || substr(md5(w), 1, 15))::BIGINT AS h1,
                 ('0x' || substr(md5(w), 17, 15))::BIGINT % 36028797018963968 AS h2
          FROM toks
        ),
        sigs AS (
          SELECT doc_id, i.i, min(h1 + i.i * h2) AS sig
          FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) i
          GROUP BY 1, 2
        ),
        bands AS (
          SELECT doc_id,
                 CAST(i // 4 AS BIGINT) AS band_idx,
                 md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY i)) AS band_hash
          FROM sigs GROUP BY doc_id, i // 4
        ),
        pairs AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
          WHERE x.doc_id < y.doc_id
        )
    """

    from melodist_spark.pipeline.similarity import _hyperplane

    bucket_terms8 = []
    for p in range(8):
        plane = _hyperplane(64, p)
        arr = "[" + ",".join(repr(v) for v in plane) + "]"
        bucket_terms8.append(
            f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {arr}) > 0 "
            f"THEN {1 << p} ELSE 0 END"
        )
    neardup_sql = f"""
        WITH b AS (
          SELECT vec_id, embedding,
                 CAST({' + '.join(bucket_terms8)} AS BIGINT) AS bucket
          FROM embeddings
        ),
        pairs AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                 list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(x.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(y.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])))) AS cos
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        )
        SELECT id_a, id_b, round(cos, 6) AS cos_sim
        FROM pairs WHERE cos >= 0.3
    """

    # Cascade calibration oracle: 5 chained dyadic-pair levels, each
    # reproducing aggregate_precipitation_values (operators/cascade.py:
    # 160-230) in SQL — percentile_cont threshold over wet pair-sums,
    # (intensity, boxtype) cell classification via lag/lead, conditional
    # branch counts, and the (wlower, wupper] weight-class first moment.
    # The too-sparse fallback (any of the 8 cells without a wet box →
    # published sample statistics) enters as literal sums over the
    # fallback arrays (operators/cascade.py:61-110); missing weight
    # cells contribute the uniform-1/7 first moment (0+..+6)/7 = 3.
    casc_p01s = "1.9955773004950241"
    casc_p10s = "2.0079518765609103"
    casc_pxxs = "3.996470822944066"
    casc_wm1s = "25.343169229745"

    def _casc_level(lv: int) -> str:
        src = "x0" if lv == 1 else f"v{lv - 1}"
        return f"""
        p{lv} AS (
          SELECT user_id, rn // 2 AS rn,
                 max(CASE WHEN rn % 2 = 0 THEN v END) AS r1,
                 max(CASE WHEN rn % 2 = 1 THEN v END) AS r2
          FROM {src}
          GROUP BY user_id, rn // 2
          HAVING count(*) = 2
        ),
        v{lv} AS (SELECT user_id, rn, r1 + r2 AS v FROM p{lv}),
        n{lv} AS (SELECT user_id, count(*) AS cnt FROM v{lv} GROUP BY user_id),
        s{lv} AS (
          SELECT user_id, rn, r1, r2, r1 + r2 AS v,
                 coalesce(lag(r1 + r2 > 0) OVER w, false) AS prev_wet,
                 coalesce(lead(r1 + r2 > 0) OVER w, false) AS next_wet
          FROM p{lv}
          WINDOW w AS (PARTITION BY user_id ORDER BY rn)
        ),
        t{lv} AS (
          SELECT user_id,
                 percentile_cont(0.5) WITHIN GROUP (ORDER BY v)
                   FILTER (WHERE v > 0) AS thr,
                 count(*) FILTER (WHERE v > 0) AS n_wet
          FROM v{lv} GROUP BY user_id
        ),
        c{lv} AS (
          SELECT s.user_id,
                 CASE WHEN s.v > t.thr THEN 1 ELSE 0 END AS ba,
                 CASE WHEN s.prev_wet AND s.next_wet THEN 2
                      WHEN s.next_wet THEN 1
                      WHEN s.prev_wet THEN 3
                      ELSE 4 END AS bt,
                 count(*) AS nb,
                 count(*) FILTER (WHERE s.r1 = 0 AND s.r2 > 0) AS c01,
                 count(*) FILTER (WHERE s.r1 > 0 AND s.r2 = 0) AS c10,
                 count(*) FILTER (WHERE s.r1 > 0 AND s.r2 > 0) AS cxx,
                 sum(CASE WHEN s.r1 / s.v <= 0.1429 THEN 0
                          WHEN s.r1 / s.v <= 0.2857 THEN 1
                          WHEN s.r1 / s.v <= 0.4286 THEN 2
                          WHEN s.r1 / s.v <= 0.5714 THEN 3
                          WHEN s.r1 / s.v <= 0.7143 THEN 4
                          WHEN s.r1 / s.v <= 0.8571 THEN 5
                          ELSE 6 END)
                   FILTER (WHERE s.r1 > 0 AND s.r2 > 0) AS ksum
          FROM s{lv} s JOIN t{lv} t USING (user_id)
          WHERE s.v > 0
          GROUP BY 1, 2, 3
        ),
        a{lv} AS (
          SELECT user_id,
                 count(*) AS n_cells,
                 count(*) FILTER (WHERE cxx > 0) AS n_xx_cells,
                 sum(c01 * 1.0 / nb) AS p01_sum,
                 sum(c10 * 1.0 / nb) AS p10_sum,
                 sum(cxx * 1.0 / nb) AS pxx_sum,
                 sum(CASE WHEN cxx > 0 THEN ksum * 1.0 / cxx ELSE 0 END) AS wm1
          FROM c{lv} GROUP BY user_id
        ),
        r{lv} AS (
          SELECT u.user_id, CAST({lv - 1} AS BIGINT) AS level,
                 CASE WHEN coalesce(t.n_wet, 0) = 0 THEN 0.0 ELSE t.thr END AS threshold,
                 CASE WHEN coalesce(a.n_cells, 0) < 8 THEN {casc_p01s} ELSE a.p01_sum END AS p01_sum,
                 CASE WHEN coalesce(a.n_cells, 0) < 8 THEN {casc_p10s} ELSE a.p10_sum END AS p10_sum,
                 CASE WHEN coalesce(a.n_cells, 0) < 8 THEN {casc_pxxs} ELSE a.pxx_sum END AS pxx_sum,
                 CASE WHEN coalesce(a.n_cells, 0) < 8 THEN {casc_wm1s}
                      ELSE a.wm1 + 3.0 * (8 - a.n_xx_cells) END AS wxx_m1
          FROM users u
          LEFT JOIN t{lv} t USING (user_id)
          LEFT JOIN a{lv} a USING (user_id)
        )"""

    casc_calib_sql = f"""
        WITH hourly AS ({_MET_HOURLY_SQL}),
        users AS (SELECT DISTINCT user_id FROM events),
        x0 AS (
          SELECT user_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn,
                 precip AS v
          FROM hourly
        ),
        {",".join(_casc_level(lv) for lv in range(1, 6))},
        lvls AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
                 UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
                 UNION ALL SELECT * FROM r5),
        cnts AS ({" UNION ALL ".join(
            f"SELECT user_id, CAST({lv - 1} AS BIGINT) AS level, cnt FROM n{lv}"
            for lv in range(1, 6)
        )}),
        -- the avg_stats row: count-weighted mean of the level
        -- statistics (all reduced stats are linear in the arrays, so
        -- the weighted mean commutes with the sums/moments); its
        -- threshold is the level-0 threshold (thresholds[0])
        avg_r AS (
          SELECT l.user_id, CAST(-1 AS BIGINT) AS level,
                 max(CASE WHEN l.level = 0 THEN l.threshold END) AS threshold,
                 sum(c.cnt * l.p01_sum) / sum(c.cnt) AS p01_sum,
                 sum(c.cnt * l.p10_sum) / sum(c.cnt) AS p10_sum,
                 sum(c.cnt * l.pxx_sum) / sum(c.cnt) AS pxx_sum,
                 sum(c.cnt * l.wxx_m1) / sum(c.cnt) AS wxx_m1
          FROM lvls l JOIN cnts c ON l.user_id = c.user_id AND l.level = c.level
          GROUP BY l.user_id
        )
        SELECT user_id, level,
               round(threshold, 6) AS threshold,
               round(p01_sum, 6) AS p01_sum,
               round(p10_sum, 6) AS p10_sum,
               round(pxx_sum, 6) AS pxx_sum,
               round(wxx_m1, 6) AS wxx_m1
        FROM (SELECT * FROM lvls UNION ALL SELECT * FROM avg_r)
    """

    extended = {
        "cascade_calibration": casc_calib_sql,
        # cascade_disagg: daily mass balance of the stochastic sub-daily
        # output is exact (branch weights sum to 1, regrids preserve
        # sums) — the oracle is the daily totals, once per grain
        "cascade_disagg": f"""
            WITH daily AS ({_MET_DAILY_SQL})
            SELECT user_id, date, g.grain, g.n_steps,
                   round(precip, 3) AS precip_day
            FROM daily
            CROSS JOIN (VALUES ('1h', CAST(24 AS BIGINT)),
                               ('5min', CAST(288 AS BIGINT))) g(grain, n_steps)
        """,
        # smet_roundtrip: values are pre-rounded to the SMET body's 2
        # decimals before writing, so the ASCII round-trip is exact
        "smet_roundtrip": """
            SELECT user_id, date_trunc('minute', ts) AS ts,
                   round(250.0 + value * 0.2, 2) AS temp,
                   round(greatest(value - 300.0, 0.0), 2) AS precip
            FROM events WHERE user_id < 40
        """,
        "embedding_neardup": neardup_sql,
        "window_primitives": f"""
            WITH m AS ({_MET_HOURLY_SQL}),
            v AS (
              SELECT *,
                     CASE WHEN temp >= 273.15
                          THEN 6.112 * exp(17.62*(temp-273.15)/(243.12+temp-273.15))
                          ELSE 6.112 * exp(22.46*(temp-273.15)/(272.62+temp-273.15))
                     END * hum / 100.0 AS vp
              FROM m
            )
            SELECT event_id, user_id,
                   round(sum(value) OVER wcum, 3) AS run_sum,
                   round(value / sum(value) OVER (PARTITION BY user_id, CAST(ts AS DATE)), 6) AS day_frac,
                   round(last_value(CASE WHEN value > 50 THEN value END IGNORE NULLS) OVER wcum, 6) AS v_ff,
                   round(vp, 6) AS vp,
                   round(CASE WHEN temp >= 273.15
                         THEN 243.12 * ln(vp/6.112) / (17.62 - ln(vp/6.112))
                         ELSE 272.62 * ln(vp/6.112) / (22.46 - ln(vp/6.112))
                         END + 273.15, 6) AS td
            FROM v
            WINDOW wcum AS (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "dyadic_calendars": f"""
            WITH daily AS ({_MET_DAILY_SQL})
            SELECT user_id, CAST(date AS TIMESTAMP) + to_minutes(5 * h.h) AS ts,
                   'five_min' AS grain
            FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 287)) AS h) h
            UNION ALL
            SELECT user_id,
                   CAST(date AS TIMESTAMP) + to_microseconds(168750000 * h.h) AS ts,
                   'level9' AS grain
            FROM (SELECT user_id, date FROM ({_MET_DAILY_SQL}))
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS h) h
        """,
        "text_features": f"""
            WITH t AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                     md5(array_to_string(list_sort(list_distinct(
                         string_split_regex(trim(text), '\\s+'))), ' ')) AS fp
              FROM documents
            ),
            wl AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     sum(CASE WHEN w = ANY({stop_en}) THEN 1 ELSE 0 END) AS score_en,
                     sum(CASE WHEN w = ANY({stop_de}) THEN 1 ELSE 0 END) AS score_de,
                     sum(CASE WHEN w = ANY({stop_es}) THEN 1 ELSE 0 END) AS score_es
              FROM wl GROUP BY doc_id
            ),
            toks2 AS (
              SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
              FROM documents
            ),
            contrib AS (
              SELECT t2.doc_id, b.b,
                     sum(CASE WHEN substr(md5(t2.w), b.b + 1, 1) IN
                              ('1','3','5','7','9','b','d','f')
                         THEN 1 ELSE -1 END) AS sg
              FROM toks2 t2
              CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) b
              GROUP BY 1, 2
            ),
            sh AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN sg > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
              FROM contrib GROUP BY doc_id
            )
            , sc AS (
              SELECT doc_id, {_script_count_sql()}
              FROM (SELECT doc_id, {_script_probe_sql()} AS probe FROM documents)
            )
            SELECT t.doc_id, t.fp,
                   CAST(t.n_tokens AS BIGINT) AS n_tokens,
                   round(CASE WHEN t.n_tokens > 0 THEN
                         length(regexp_replace(t.text, '\\s+', '', 'g')) * 1.0 / t.n_tokens END, 6) AS mean_word_len,
                   round(CASE WHEN t.n_tokens > 0 THEN s.score_en * 1.0 / t.n_tokens END, 6) AS stopword_ratio,
                   round((length(t.text) - length(regexp_replace(t.text, '[.,;:!?]', '', 'g'))) * 1.0
                         / length(t.text), 6) AS punct_ratio,
                   CAST(s.score_en AS BIGINT) AS score_en,
                   CAST(s.score_de AS BIGINT) AS score_de,
                   CAST(s.score_es AS BIGINT) AS score_es,
                   sc.n_latin, sc.n_cyrillic, sc.n_cjk, sc.n_arabic,
                   sc.n_kana, sc.n_hangul,
                   {_script_pred_sql()} AS script_pred,
                   sh.simhash
            FROM t
            JOIN s ON t.doc_id = s.doc_id
            JOIN sh ON t.doc_id = sh.doc_id
            JOIN sc ON t.doc_id = sc.doc_id
        """,
        "asof_attribution": """
            WITH c AS (
              SELECT user_id, ts, value FROM events WHERE event_type = 'click'
            ),
            v AS (
              SELECT user_id, ts AS view_ts, value AS vv
              FROM events WHERE event_type = 'view'
            )
            SELECT c.user_id, c.ts,
                   round(c.value, 6) AS click_value,
                   v.view_ts,
                   round(v.vv, 6) AS view_value
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.view_ts
        """,
        "text_curation": f"""
            WITH cleaned AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
                     len(regexp_extract_all(text, '\\+?\\d[\\d() -]{{7,}}\\d')) AS n_phones,
                     len(regexp_extract_all(text, '\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}')) AS n_ipv4,
                     trim(regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text, '<[^>]+>', ' ', 'g'),
                           'https?://\\S+', ' ', 'g'),
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS clean,
                     {_fixed_sql()} AS fx
              FROM documents
            ),
            t AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
              FROM documents
            ),
            wl AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     sum(CASE WHEN w = ANY({stop_en}) THEN 1 ELSE 0 END) AS n_stop
              FROM wl GROUP BY doc_id
            ),
            f AS (
              SELECT t.doc_id,
                     t.n_tokens,
                     t.n_tokens BETWEEN 20 AND 1000 AS ok_length,
                     -- coalesce(..., FALSE): empty docs have NULL
                     -- ratio features and FAIL the rule (the Spark
                     -- flags are definite booleans)
                     coalesce(CASE WHEN t.n_tokens > 0 THEN
                       length(regexp_replace(t.text, '\\s+', '', 'g')) * 1.0 / t.n_tokens
                     END BETWEEN 2.0 AND 12.0, FALSE) AS ok_word_len,
                     coalesce(CASE WHEN t.n_tokens > 0 THEN s.n_stop * 1.0 / t.n_tokens END
                       >= 0.05, FALSE) AS ok_stopwords,
                     coalesce((length(t.text) - length(regexp_replace(t.text, '[.,;:!?]', '', 'g'))) * 1.0
                       / length(t.text) <= 0.2, FALSE) AS ok_punct
              FROM t JOIN s ON t.doc_id = s.doc_id
            )
            SELECT f.doc_id,
                   CAST(c.n_emails AS BIGINT) AS n_emails,
                   CAST(c.n_phones AS BIGINT) AS n_phones,
                   CAST(c.n_ipv4 AS BIGINT) AS n_ipv4,
                   CAST(length(c.clean) AS BIGINT) AS clean_len,
                   md5(c.clean) AS clean_md5,
                   CAST(length(c.fx) AS BIGINT) AS fixed_len,
                   md5(c.fx) AS fixed_md5,
                   CAST(f.n_tokens AS BIGINT) AS n_tokens,
                   ok_length, ok_word_len, ok_stopwords, ok_punct,
                   ok_length AND ok_word_len AND ok_stopwords AND ok_punct AS keep
            FROM f JOIN cleaned c ON f.doc_id = c.doc_id
        """,
        "web_curation": """
            WITH src AS (
              SELECT doc_id,
                     '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; notes</title><style>p{margin:0}</style></head><body><!-- header --><script type="text/javascript">var t=1&&0;</script><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
                       CASE WHEN doc_id % 9 = 2
                            THEN '<table><tr><td><span>' || regexp_replace(text, '(\\S+)', '<b>\\1</b>', 'g') || '</span></td></tr></table>'
                            ELSE '<p>' ||
                              CASE WHEN doc_id % 9 = 0 THEN array_to_string(string_split(text, ' ')[1:5], ' ')
                                   WHEN doc_id % 9 = 1 THEN '<a href="/x">' || text || '</a>'
                                   ELSE text END
                              || '</p>' END
                     || '<ul><li>lang: ' || lang || '</li><li>source: ' || source || '</li></ul><div>&copy; crawl &nbsp;&lt;archive&gt;</div></body></html>' AS html,
                     CASE WHEN doc_id % 9 IN (0, 1) THEN ''
                          ELSE trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) END AS para_clean,
                     'HTTPS://bot@WWW.' || source || '-Site' ||
                       CASE WHEN doc_id % 3 = 0 THEN '.CO.UK'
                            WHEN doc_id % 3 = 1 THEN '.Com'
                            ELSE '.NET' END ||
                       ':443/Crawl//' || lang || '/' || CAST(doc_id AS VARCHAR) ||
                       '/?utm_source=feed&ref=rss&id=' || CAST(doc_id AS VARCHAR) || '&b=2&a=1#frag' AS url
              FROM documents
            ),
            p AS (
              SELECT doc_id, url, html, para_clean,
                     lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '^[^@]*@', '') AS hostport
              FROM src
            ),
            h AS (
              SELECT *,
                     regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')), '^www\\.', '') AS host,
                     regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                     regexp_extract(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '^([^?#]*)', 1) AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM p
            ),
            n AS (
              SELECT *,
                     CASE WHEN port = '' OR (scheme='http' AND port='80') OR (scheme='https' AND port='443')
                          THEN '' ELSE ':' || port END AS portpart,
                     CASE WHEN regexp_replace(path, '/{2,}', '/', 'g') = '' THEN '/'
                          WHEN length(regexp_replace(path, '/{2,}', '/', 'g')) > 1
                            THEN regexp_replace(regexp_replace(path, '/{2,}', '/', 'g'), '/$', '')
                          ELSE regexp_replace(path, '/{2,}', '/', 'g') END AS path_n,
                     coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
                         x -> x <> '' AND NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)='))), '&'), '') AS qn
              FROM h
            ),
            u AS (
              SELECT doc_id, html, host, para_clean,
                     CASE WHEN scheme = '' THEN lower(trim(url))
                          ELSE scheme || '://' || host || portpart || path_n ||
                               CASE WHEN qn = '' THEN '' ELSE '?' || qn END END AS url_norm,
                     CASE WHEN regexp_matches(host, '^[0-9.]+$') THEN host
                          WHEN regexp_extract(host, '([^.]+\\.(?:co|com|net|org|gov|edu|ac)\\.[a-z][a-z]|[^.]+\\.[^.]+)$', 1) = '' THEN host
                          ELSE regexp_extract(host, '([^.]+\\.(?:co|com|net|org|gov|edu|ac)\\.[a-z][a-z]|[^.]+\\.[^.]+)$', 1) END AS domain
              FROM n
            ),
            x AS (
              SELECT doc_id, url_norm, host, domain,
                     -- main content: the kept paragraph iff it clears
                     -- the extractor's length + word floors (the
                     -- m9 0/1 slices already collapsed to '' in src —
                     -- word floor and link-density cap respectively).
                     -- m9==2 is the nested table-soup slice: the FLAT
                     -- scorer's text-to-markup floor deletes it (its
                     -- miss is the pinned decision) ...
                     CASE WHEN doc_id % 9 = 2 THEN ''
                          WHEN length(para_clean) >= 40
                           AND len(string_split(para_clean, ' ')) >= 10
                          THEN para_clean ELSE '' END AS main,
                     -- ... and the DOM tier recovers it: inline
                     -- markup carries no penalty, so the td block is
                     -- scored on its text alone (floors + link
                     -- density only; m9 0/1 are '' via para_clean)
                     CASE WHEN length(para_clean) >= 40
                           AND len(string_split(para_clean, ' ')) >= 10
                          THEN para_clean ELSE '' END AS dommain,
                     trim(regexp_replace(regexp_replace(
                       replace(replace(replace(replace(replace(replace(replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                               regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
                               '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
                               '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
                               '(?is)<noscript\\b[^>]*>.*?</noscript\\s*>', ' ', 'g'),
                               '(?is)<template\\b[^>]*>.*?</template\\s*>', ' ', 'g'),
                               '(?is)<svg\\b[^>]*>.*?</svg\\s*>', ' ', 'g'),
                             '(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|thead|tbody|td|th|section|article|header|footer|blockquote|pre|form)\\b[^>]*/?>', e'\\n', 'g'),
                           '<[^>]*>', ' ', 'g'),
                         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', e'\\x27'), '&apos;', e'\\x27'), '&amp;', '&'),
                       e'[ \\t]+', ' ', 'g'), e' ?\\n[ \\n]*', e'\\n', 'g'), e' \\n') AS extracted
              FROM u
            ),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY domain ORDER BY md5(url_norm), url_norm) AS rk
              FROM x
            ),
            ndoc AS (SELECT count(*) AS n FROM documents),
            edges AS (
              SELECT DISTINCT uu.domain AS src, p.domain AS dst
              FROM u uu
              CROSS JOIN ndoc
              JOIN u p
                ON p.doc_id = (('0x' || substr(md5(CAST(uu.doc_id AS VARCHAR)), 1, 15))::BIGINT % ndoc.n)
              WHERE uu.domain <> p.domain
            ),"""
        + _pagerank_ctes(n_iter=5, damping=0.85)
        + """
            prf AS (SELECT node, r FROM pr5)
            SELECT r.doc_id, r.url_norm, r.host, r.domain,
                   CAST(r.rk AS BIGINT) AS domain_rank,
                   r.rk <= 25 AS kept,
                   round(p.r, 6) AS domain_pr,
                   CAST(length(r.extracted) AS BIGINT) AS n_chars_clean,
                   md5(r.extracted) AS clean_md5,
                   CAST(length(r.main) AS BIGINT) AS n_chars_main,
                   md5(r.main) AS main_md5,
                   CAST(length(r.dommain) AS BIGINT) AS n_chars_dom,
                   md5(r.dommain) AS dom_md5
            FROM r LEFT JOIN prf p ON p.node = r.domain
        """,
        "repetition_stats": """
            WITH lists AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
              FROM documents
            ),
            uni AS (
              SELECT doc_id, t.w FROM lists, unnest(l) AS t(w) WHERE t.w <> ''
            ),
            uc AS (SELECT doc_id, w, count(*) AS c FROM uni GROUP BY 1, 2),
            us AS (
              SELECT doc_id, max(c) * 1.0 / sum(c) AS top_unigram_frac
              FROM uc GROUP BY 1
            ),
            big AS (
              SELECT doc_id, l[i] || ' ' || l[i+1] AS g
              FROM lists, unnest(generate_series(1, len(l) - 1)) AS t(i)
            ),
            bc2 AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
            bs AS (
              SELECT doc_id, max(c) * 1.0 / sum(c) AS top_bigram_frac
              FROM bc2 GROUP BY 1
            ),
            t0 AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
aug AS MATERIALIZED (
  SELECT doc_id, list_concat(t, t[1 : CAST(doc_id % 13 AS BIGINT)]) AS t FROM t0
),
base AS (
  SELECT doc_id, t,
         length(array_to_string(t, ' ')) AS norm_len,
         length(array_to_string(t, '')) AS char_len
  FROM aug
),
lines AS MATERIALIZED (
  SELECT doc_id, i AS li,
         array_to_string(t[(i-1)*4+1 : i*4], ' ') AS u
  FROM aug, unnest(generate_series(1, (len(t)+3)//4)) AS s(i)
),
lstat AS (
  SELECT doc_id,
         sum(CASE WHEN c>1 THEN c-1 ELSE 0 END)*1.0/sum(c) AS dup_line_frac,
         sum(CASE WHEN c>1 THEN (c-1)*ln ELSE 0 END)*1.0/sum(c*ln) AS dup_line_char_frac
  FROM (SELECT doc_id, u, count(*) AS c, length(u) AS ln FROM lines GROUP BY doc_id, u)
  GROUP BY 1
),
paras AS (
  SELECT doc_id, (li-1)//4 AS pi, string_agg(u, chr(10) ORDER BY li) AS u
  FROM lines GROUP BY 1,2
),
pstat AS (
  SELECT doc_id,
         sum(CASE WHEN c>1 THEN c-1 ELSE 0 END)*1.0/sum(c) AS dup_para_frac,
         sum(CASE WHEN c>1 THEN (c-1)*ln ELSE 0 END)*1.0/sum(c*ln) AS dup_para_char_frac
  FROM (SELECT doc_id, u, count(*) AS c, length(u) AS ln FROM paras GROUP BY doc_id, u)
  GROUP BY 1
),
grams AS MATERIALIZED (
  SELECT a.doc_id, nn.n, s.i, array_to_string(a.t[s.i : s.i+nn.n-1], ' ') AS g
  FROM aug a,
       unnest([2,3,4,5,6,7,8,9,10]) AS nn(n),
       unnest(generate_series(1, len(a.t)-nn.n+1)) AS s(i)
),
gc AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1,2,3),
cmx AS (
  SELECT doc_id, n, max(c) AS cm FROM gc WHERE n IN (2, 3, 4)
  GROUP BY 1, 2
),
-- the MOST FREQUENT gram's chars (count ties -> longest gram), not
-- max(c*length): mirrors _gopher_row's table-A1 reading exactly
tops0 AS (
  SELECT gc.doc_id, gc.n, cmx.cm * max(length(gc.g)) AS t
  FROM gc JOIN cmx
    ON gc.doc_id = cmx.doc_id AND gc.n = cmx.n AND gc.c = cmx.cm
  GROUP BY gc.doc_id, gc.n, cmx.cm
),
tops AS (
  SELECT doc_id,
         max(CASE WHEN n=2 THEN t END) AS t2,
         max(CASE WHEN n=3 THEN t END) AS t3,
         max(CASE WHEN n=4 THEN t END) AS t4
  FROM tops0 GROUP BY 1
),
dupocc AS (
  SELECT gr.doc_id, gr.n, gr.i, gr.g
  FROM grams gr JOIN gc ON gr.doc_id=gc.doc_id AND gr.n=gc.n AND gr.g=gc.g
  WHERE gc.c > 1 AND gr.n >= 5
),
cover AS (
  SELECT DISTINCT doc_id, n, i + o.off AS p
  FROM dupocc, unnest(generate_series(0, n-1)) AS o(off)
),
covlen AS (
  SELECT c.doc_id,
         sum(CASE WHEN c.n=5 THEN length(a.t[c.p]) END) AS d5,
         sum(CASE WHEN c.n=6 THEN length(a.t[c.p]) END) AS d6,
         sum(CASE WHEN c.n=7 THEN length(a.t[c.p]) END) AS d7,
         sum(CASE WHEN c.n=8 THEN length(a.t[c.p]) END) AS d8,
         sum(CASE WHEN c.n=9 THEN length(a.t[c.p]) END) AS d9,
         sum(CASE WHEN c.n=10 THEN length(a.t[c.p]) END) AS d10
  FROM cover c JOIN aug a ON c.doc_id = a.doc_id
  GROUP BY 1
)
            SELECT b.doc_id,
                   round(u.top_unigram_frac, 6) AS top_unigram_frac,
                   round(bg.top_bigram_frac, 6) AS top_bigram_frac,
       round(l.dup_line_frac, 6) AS dup_line_frac,
       round(l.dup_line_char_frac, 6) AS dup_line_char_frac,
       round(p.dup_para_frac, 6) AS dup_para_frac,
       round(p.dup_para_char_frac, 6) AS dup_para_char_frac,
       round(COALESCE(t.t2, 0) * 1.0 / b.norm_len, 6) AS top_2gram_char_frac,
       round(COALESCE(t.t3, 0) * 1.0 / b.norm_len, 6) AS top_3gram_char_frac,
       round(COALESCE(t.t4, 0) * 1.0 / b.norm_len, 6) AS top_4gram_char_frac,
       round(COALESCE(cv.d5, 0) * 1.0 / b.char_len, 6) AS dup_5gram_char_frac,
       round(COALESCE(cv.d6, 0) * 1.0 / b.char_len, 6) AS dup_6gram_char_frac,
       round(COALESCE(cv.d7, 0) * 1.0 / b.char_len, 6) AS dup_7gram_char_frac,
       round(COALESCE(cv.d8, 0) * 1.0 / b.char_len, 6) AS dup_8gram_char_frac,
       round(COALESCE(cv.d9, 0) * 1.0 / b.char_len, 6) AS dup_9gram_char_frac,
       round(COALESCE(cv.d10, 0) * 1.0 / b.char_len, 6) AS dup_10gram_char_frac
            FROM base b
            JOIN us u ON b.doc_id = u.doc_id
            JOIN bs bg ON b.doc_id = bg.doc_id
            LEFT JOIN lstat l ON b.doc_id = l.doc_id
LEFT JOIN pstat p ON b.doc_id = p.doc_id
LEFT JOIN tops t ON b.doc_id = t.doc_id
LEFT JOIN covlen cv ON b.doc_id = cv.doc_id
        """,
        "wind_variants": f"""
            WITH daily AS (
              SELECT user_id, date, hum / 10.0 AS wind
              FROM ({_MET_DAILY_SQL})
            ),
            grid AS (
              SELECT user_id, wind,
                     CAST(date AS TIMESTAMP) + to_hours(h.h) AS ts, h.h
              FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            )
            SELECT 'equal' AS method, user_id, ts, round(wind, 6) AS wind_h
            FROM grid
            UNION ALL
            SELECT 'cosine' AS method, user_id, ts,
                   round(0.4 * wind * cos(pi() * (h - 2.0) / 12.0) + 1.0 * wind, 6) AS wind_h
            FROM grid
        """,
        # wind_random: the counter-based uniform of util/rng.py, keyed
        # by (user_id, seed 42, unix seconds of the hour)
        "wind_random": f"""
            WITH daily AS (
              SELECT user_id, date, hum / 10.0 AS wind
              FROM ({_MET_DAILY_SQL})
            ),
            grid AS (
              SELECT user_id, wind, CAST(date AS TIMESTAMP) + to_hours(h.h) AS ts
              FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            u AS (
              SELECT user_id, ts, wind,
                     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || chr(31) || '42'
                         || chr(31) || CAST(epoch_ms(ts) // 1000 AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                     / CAST(1152921504606846976 AS DOUBLE) AS u
              FROM grid
            )
            SELECT user_id, ts, round(wind * pow(-ln(u), 0.3), 6) AS wind_h
            FROM u
        """,
        "interpolate": f"""
            WITH daily AS ({_MET_DAILY_SQL}),
            v AS (
              SELECT user_id, date,
                     CASE WHEN precip >= 1.0 THEN precip END AS v,
                     row_number() OVER (PARTITION BY user_id ORDER BY date) AS rn
              FROM daily
            ),
            f AS (
              SELECT *,
                     max(CASE WHEN v IS NOT NULL THEN rn END)
                         OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
                     last_value(v IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                     min(CASE WHEN v IS NOT NULL THEN rn END)
                         OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np,
                     first_value(v IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
              FROM v
            )
            SELECT user_id, date,
                   round(CASE WHEN v IS NOT NULL THEN v
                         WHEN pp IS NOT NULL AND np IS NOT NULL
                           THEN pv + (rn - pp) * (nv - pv) / (np - pp)
                         WHEN pp IS NOT NULL THEN pv
                         END, 6) AS v_i
            FROM f
        """,
        "validation_metrics": """
            WITH d AS (
              SELECT user_id, value AS o,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS s
              FROM events
            ),
            d2 AS (
              SELECT user_id, o, s,
                     avg(o) OVER (PARTITION BY user_id) AS obar
              FROM d WHERE s IS NOT NULL
            )
            SELECT user_id,
                   round(corr(o, s), 6) AS r,
                   round(sqrt(avg(power(o - s, 2))), 6) AS rmse,
                   round(1 - sum(power(o - s, 2)) / sum(power(o - obar, 2)), 6) AS nse
            FROM d2 GROUP BY user_id
        """,
        "minhash_pairs": f"""
            WITH {minhash_cte},
            -- incremental path: batch (doc_id % 10 = 0) vs the stored
            -- index (the rest); bands/signatures are per-doc, so the
            -- full-corpus CTEs filter down to exactly the two sides
            icand AS (
              SELECT DISTINCT b.doc_id AS bid, x.doc_id AS iid
              FROM bands b JOIN bands x
                ON b.band_idx = x.band_idx AND b.band_hash = x.band_hash
              WHERE b.doc_id % 10 = 0 AND x.doc_id % 10 <> 0
            ),
            iest AS (
              SELECT c.bid, c.iid,
                     sum(CASE WHEN sb.sig = si.sig THEN 1 ELSE 0 END) / 16.0 AS e
              FROM icand c
              JOIN sigs sb ON sb.doc_id = c.bid
              JOIN sigs si ON si.doc_id = c.iid AND si.i = sb.i
              GROUP BY 1, 2
            ),
            ihits AS (SELECT DISTINCT bid FROM iest WHERE e >= 0.8)
            SELECT 'pair' AS kind, id_a, id_b FROM pairs
            UNION ALL
            SELECT 'incr_survivor' AS kind, doc_id AS id_a,
                   CAST(NULL AS BIGINT) AS id_b
            FROM documents
            WHERE doc_id % 10 = 0
              AND doc_id NOT IN (SELECT bid FROM ihits)
        """,
        "dup_clusters": f"""
            WITH RECURSIVE {minhash_cte},
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            reach(id, lbl) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
            ),
            ex AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id,
                     count(*) OVER (PARTITION BY md5(text)) AS n
              FROM documents
            ),
            pre AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY md5(array_to_string(
                         (string_split(text, ' '))[1:2], ' '))) AS cluster_id,
                     count(*) OVER (PARTITION BY md5(array_to_string(
                         (string_split(text, ' '))[1:2], ' '))) AS n
              FROM documents
            )
            SELECT 'exact' AS method, doc_id, cluster_id FROM ex WHERE n > 1
            UNION ALL
            SELECT 'prefix' AS method, doc_id, cluster_id FROM pre WHERE n > 1
            UNION ALL
            SELECT 'neardup' AS method, id AS doc_id, min(lbl) AS cluster_id
            FROM reach GROUP BY id
        """,
        "line_dedup": """
            WITH src AS (
              SELECT doc_id,
                     'shared header for source ' || source || chr(10) ||
                     text || chr(10) ||
                     'shared footer for lang ' || lang AS text
              FROM documents
            ),
            l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM src),
            lines AS (
              SELECT doc_id, i - 1 AS pos, ls[i] AS line
              FROM l, unnest(generate_series(1, len(ls))) AS t(i)
            ),
            fo AS (
              SELECT line, min(doc_id * 1048576 + pos) AS keep_at
              FROM lines WHERE length(trim(line)) >= 10 GROUP BY line
            ),
            kept AS (
              SELECT li.doc_id, li.pos, li.line
              FROM lines li LEFT JOIN fo ON li.line = fo.line
              WHERE length(trim(li.line)) < 10
                 OR li.doc_id * 1048576 + li.pos = fo.keep_at
            ),
            rebuilt AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS td
              FROM kept GROUP BY doc_id
            )
            SELECT s.doc_id,
                   CAST(length(s.text) AS BIGINT) AS n_chars_in,
                   CAST(length(coalesce(r.td, '')) AS BIGINT) AS n_chars_out,
                   coalesce(r.td, '') AS text_deduped
            FROM src s LEFT JOIN rebuilt r USING (doc_id)
        """,
        "doc_perplexity": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            uni AS (
              SELECT w1, count(*) AS c1
              FROM (SELECT unnest(w) AS w1 FROM toks) GROUP BY w1
            ),
            vsz AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
            bg AS (
              SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram, w[i] AS w1
              FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
            ),
            dbg AS (
              SELECT doc_id, bigram, w1, count(*) AS k
              FROM bg GROUP BY 1, 2, 3
            ),
            bc AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram),
            scored AS (
              SELECT d.doc_id, sum(d.k) AS n_bigrams,
                     sum(d.k * -ln(
                         (coalesce(bc.c12, 0) + CAST(0.4 AS DOUBLE))
                         / (coalesce(u.c1, 0) + CAST(0.4 AS DOUBLE) * vsz.v)
                     )) / sum(d.k) AS h
              FROM dbg d
              LEFT JOIN bc USING (bigram)
              LEFT JOIN uni u ON u.w1 = d.w1
              CROSS JOIN vsz
              GROUP BY d.doc_id
            )
            SELECT m.method,
                   doc.doc_id,
                   CAST(s.n_bigrams AS BIGINT) AS n_bigrams,
                   round(s.h, 6) AS cross_entropy,
                   round(exp(s.h), 6) AS perplexity
            FROM documents doc
            LEFT JOIN scored s USING (doc_id)
            CROSS JOIN (VALUES ('join'), ('broadcast')) AS m(method)
        """,
        "pmi_collocations": """
            WITH toks AS (
              SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            uni AS (
              SELECT w1, count(*) AS c1
              FROM (SELECT unnest(w) AS w1 FROM toks) GROUP BY w1
            ),
            bg AS (
              SELECT w[i] AS w1, w[i+1] AS w2
              FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
            ),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
            tot AS (
              SELECT (SELECT CAST(sum(c12) AS DOUBLE) FROM bc) AS n_big,
                     (SELECT CAST(sum(c1) AS DOUBLE) FROM uni) AS n_uni
            )
            SELECT bc.w1, bc.w2, bc.c12,
                   round(ln((bc.c12 / tot.n_big)
                            / ((u1.c1 / tot.n_uni) * (u2.c1 / tot.n_uni))),
                         6) AS pmi
            FROM bc
            JOIN uni u1 ON u1.w1 = bc.w1
            JOIN uni u2 ON u2.w1 = bc.w2
            CROSS JOIN tot
            WHERE bc.c12 >= 5
            ORDER BY pmi DESC, bc.w1, bc.w2
            LIMIT 100
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+'))
                          END AS BIGINT) AS n_tokens,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'), 1, 15))::BIGINT
                     / 1152921504606846976.0 AS h
              FROM documents
            ),
            o AS (
              SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (
                         ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS begin_offset
              FROM t
            )
            SELECT doc_id, n_tokens, begin_offset,
                   CAST(floor(begin_offset / 512.0) AS BIGINT) AS seq_first,
                   CAST(floor((begin_offset + n_tokens - 1) / 512.0) AS BIGINT) AS seq_last,
                   begin_offset % 512 AS offset_in_seq
            FROM o
        """,
        "doc_sample": """
            WITH half AS (
              SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
              FROM documents
              WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|hs'), 1, 15))::BIGINT
                    / 1152921504606846976.0 < 0.5
            ),
            ranked AS (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|r3'), 1, 15))::BIGINT
                                / 1152921504606846976.0,
                                doc_id
                     ) AS r
              FROM half
            ),
            toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            dbg AS (
              SELECT doc_id, w[i] AS w1, w[i+1] AS w2, count(*) AS k
              FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
              GROUP BY 1, 2, 3
            ),
            tgt_ids AS (SELECT doc_id FROM documents WHERE lang = 'en'),
            uni_t AS (
              SELECT w1, count(*) AS c1
              FROM (SELECT unnest(w) AS w1 FROM toks
                    WHERE doc_id IN (SELECT doc_id FROM tgt_ids))
              GROUP BY w1
            ),
            bg_t AS (
              SELECT w1, w2, sum(k) AS c12 FROM dbg
              WHERE doc_id IN (SELECT doc_id FROM tgt_ids)
              GROUP BY 1, 2
            ),
            vt AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni_t),
            uni_r AS (
              SELECT w1, count(*) AS c1
              FROM (SELECT unnest(w) AS w1 FROM toks) GROUP BY w1
            ),
            bg_r AS (SELECT w1, w2, sum(k) AS c12 FROM dbg GROUP BY 1, 2),
            vr AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni_r),
            ht AS (
              SELECT d.doc_id, sum(d.k) AS nb,
                     sum(d.k * -ln(
                         (coalesce(b.c12, 0) + 0.4)
                         / (coalesce(u.c1, 0) + 0.4 * vt.v)
                     )) / sum(d.k) AS h
              FROM dbg d
              LEFT JOIN bg_t b ON b.w1 = d.w1 AND b.w2 = d.w2
              LEFT JOIN uni_t u ON u.w1 = d.w1
              CROSS JOIN vt GROUP BY d.doc_id
            ),
            hr AS (
              SELECT d.doc_id, sum(d.k * -ln(
                         (coalesce(b.c12, 0) + 0.4)
                         / (coalesce(u.c1, 0) + 0.4 * vr.v)
                     )) / sum(d.k) AS h
              FROM dbg d
              LEFT JOIN bg_r b ON b.w1 = d.w1 AND b.w2 = d.w2
              LEFT JOIN uni_r u ON u.w1 = d.w1
              CROSS JOIN vr GROUP BY d.doc_id
            ),
            gum AS (
              SELECT doc.doc_id, doc.lang,
                     CAST(doc.n_chars AS BIGINT) AS n_chars,
                     ht.nb * (hr.h - ht.h) AS li,
                     least(greatest(
                       ('0x' || substr(md5(CAST(doc.doc_id AS VARCHAR) || '|dsir'), 1, 15))::BIGINT
                       / 1152921504606846976.0, 1e-15), 1.0 - 1e-15) AS u
              FROM documents doc
              JOIN ht ON ht.doc_id = doc.doc_id
              JOIN hr ON hr.doc_id = doc.doc_id
            ),
            dsir AS (
              SELECT doc_id, lang, n_chars, li,
                     li - ln(-ln(u)) AS gk
              FROM gum
              ORDER BY gk DESC, doc_id ASC
              LIMIT 40
            )
            SELECT 'stratified' AS method, doc_id, lang, n_chars,
                   CAST(NULL AS DOUBLE) AS log_importance,
                   CAST(NULL AS DOUBLE) AS gumbel_key
            FROM ranked WHERE r <= 40
            UNION ALL
            SELECT 'dsir', doc_id, lang, n_chars,
                   round(li, 6), round(gk, 6)
            FROM dsir
        """,
        "vocab_topk": """
            WITH lists AS (
              SELECT lang, string_split_regex(trim(lower(text)), '\\s+') AS l
              FROM documents
            ),
            toks2 AS (
              SELECT lang, t.w AS token
              FROM lists, unnest(l) AS t(w)
              WHERE t.w <> ''
            ),
            c AS (
              SELECT lang, token, CAST(count(*) AS BIGINT) AS n
              FROM toks2 GROUP BY 1, 2
            ),
            ranked AS (
              SELECT lang, token, n,
                     CAST(row_number() OVER (
                       PARTITION BY lang ORDER BY n DESC, token ASC
                     ) AS BIGINT) AS rank
              FROM c
            )
            SELECT lang, token, n, rank FROM ranked WHERE rank <= 20
        """,
        "jaccard_pairs": f"""
            WITH {minhash_cte},
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
              SELECT p.id_a, p.id_b, count(*) AS n_inter
              FROM pairs p
              JOIN toks a ON a.doc_id = p.id_a
              JOIN toks b ON b.doc_id = p.id_b AND b.w = a.w
              GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b,
                   round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
        """,
        # decontaminate: distinct 5-gram hashes per doc (distinct on
        # the STRING before hashing, matching _shingles' array_distinct
        # → hash order), benchmark slice doc_id % 41 = 0, left join on
        # the same 60-bit md5-prefix both engines compute
        "decontaminate": r"""
            WITH lists AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
              FROM documents
            ),
            grams0 AS (
              SELECT DISTINCT doc_id,
                     l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                          || l[i+3] || ' ' || l[i+4] AS w
              FROM lists, unnest(generate_series(1, len(l) - 4)) AS t(i)
            ),
            grams AS (
              SELECT doc_id,
                     ('0x' || substr(md5(w), 1, 15))::BIGINT AS g
              FROM grams0
            ),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 41 = 0),
            train AS (SELECT doc_id, g FROM grams WHERE doc_id % 41 <> 0),
            agg AS (
              SELECT t.doc_id,
                     CAST(count(*) AS BIGINT) AS n_ngrams,
                     CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_hits
              FROM train t LEFT JOIN bench b USING (g)
              GROUP BY 1
            )
            SELECT m.method, a.doc_id, a.n_ngrams, a.n_hits,
                   round(a.n_hits * 1.0 / a.n_ngrams, 6) AS overlap,
                   a.n_hits >= 1 AS contaminated
            FROM agg a
            CROSS JOIN (VALUES ('exact'), ('bloom')) AS m(method)
        """,
        "humidity_dewpoint": (f"""
            {_TEMP_SINE_CORE_SQL},
            met AS ({_MET_HOURLY_SQL}),
            tdew_h AS (
              SELECT user_id, ts, temp,
                     ln(((CASE WHEN temp >= 273.15 THEN 6.112 * exp(17.62*(temp-273.15)/(243.12+temp-273.15)) ELSE 6.112 * exp(22.46*(temp-273.15)/(272.62+temp-273.15)) END) * hum / 100.0) / 6.112) AS lr
              FROM met
            ),
            tdew_v AS (
              SELECT user_id, CAST(ts AS DATE) AS date,
                     avg(CASE WHEN temp >= 273.15
                         THEN 243.12 * lr / (17.62 - lr)
                         ELSE 272.62 * lr / (22.46 - lr) END + 273.15) AS tdew_d,
                     min(temp) AS tmin_d
              FROM tdew_h GROUP BY 1, 2
            ),
            reg AS (
              SELECT user_id,
                     covar_samp(tmin_d, tdew_d) / var_samp(tmin_d) AS a1,
                     avg(tdew_d) - covar_samp(tmin_d, tdew_d) / var_samp(tmin_d) * avg(tmin_d) AS a0
              FROM tdew_v GROUP BY 1
            ),
            scaffold AS (
              SELECT t.user_id, t.ts, t.temp_raw,
                     r.a0 + r.a1 * d.tmin AS tdew
              FROM temp_core t
              JOIN daily_t d ON t.user_id = d.user_id AND t.date = d.date
              JOIN reg r ON r.user_id = t.user_id
            )
            SELECT user_id, ts,
                   round(CASE WHEN temp_raw IS NULL OR tdew IS NULL THEN NULL
                         ELSE least(greatest(
                       100.0 * (CASE WHEN tdew >= 273.15 THEN 6.112 * exp(17.62*(tdew-273.15)/(243.12+tdew-273.15)) ELSE 6.112 * exp(22.46*(tdew-273.15)/(272.62+tdew-273.15)) END) / (CASE WHEN temp_raw >= 273.15 THEN 6.112 * exp(17.62*(temp_raw-273.15)/(243.12+temp_raw-273.15)) ELSE 6.112 * exp(22.46*(temp_raw-273.15)/(272.62+temp_raw-273.15)) END), 0.0), 100.0) END, 6) AS hum_h
            FROM scaffold

        """),
        "humidity_mhpm": f"""
            WITH met AS ({_MET_HOURLY_SQL}),
            w AS (
              SELECT *, sum(precip) OVER (PARTITION BY user_id, CAST(ts AS DATE)) > 0 AS wet
              FROM met
            ),
            mhpm AS (
              SELECT user_id, month(ts) AS m, hour(ts) AS h2, wet,
                     avg(hum) AS hum_mean
              FROM w GROUP BY 1, 2, 3, 4
            ),
            daily AS ({_MET_DAILY_SQL}),
            grid AS (
              SELECT d.user_id, d.date, d.precip > 0 AS wet,
                     CAST(d.date AS TIMESTAMP) + to_hours(h.h) AS ts, h.h
              FROM daily d CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            )
            SELECT g.user_id, g.ts,
                   round(CASE WHEN p.hum_mean IS NULL THEN NULL
                         ELSE least(greatest(p.hum_mean, 0.0), 100.0) END, 6) AS hum_h
            FROM grid g LEFT JOIN mhpm p
              ON p.user_id = g.user_id AND p.m = month(g.ts)
             AND p.h2 = g.h AND p.wet = g.wet
        """,
        "temp_sine_sunloc": f"""
            WITH daily_t AS ({_MET_DAILY_SQL}),
            dts AS (SELECT DISTINCT date FROM daily_t),
            geo AS (
              SELECT date,
                     radians((360.0/365.25) * (CAST(dayofyear(date) AS DOUBLE) - 79.346)) AS b,
                     2 * pi() * (CAST(dayofyear(date) AS DOUBLE) - 1) / 365.0 AS s
              FROM dts
            ),
            ang AS (
              SELECT date,
                     radians(0.3723 + 23.2567*sin(b) - 0.7580*cos(b)
                             + 0.1149*sin(2*b) + 0.3656*cos(2*b)
                             - 0.1712*sin(3*b) + 0.0201*cos(3*b)) AS decl,
                     (12.0/pi()) * (0.000075 + 0.001868*cos(s) - 0.032077*sin(s)
                             - 0.014615*cos(2*s) - 0.040849*sin(2*s)) AS eq_time
              FROM geo
            ),
            sun0 AS (
              SELECT date,
                     12.0 - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time AS sunnoon,
                     -tan(radians({LAT})) * tan(decl) AS oarg,
                     eq_time, decl
              FROM ang
            ),
            sun AS (
              SELECT date,
                     CASE WHEN oarg < -1 THEN sunnoon - 12
                          WHEN oarg > 1 THEN sunnoon
                          ELSE 12.0*(1.0 - acos(oarg)/pi())
                               - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time END AS sunrise0,
                     sunnoon
              FROM sun0
            ),
            locs AS (
              SELECT date,
                     CAST(round(CASE WHEN sunrise0 < 0 THEN sunrise0 + 24
                                     ELSE sunrise0 END) AS INT) AS min_loc,
                     CAST(round(sunnoon) AS INT) + 2 AS max_loc
              FROM sun
            ),
            loc_t AS (
              SELECT d.user_id, d.date, d.tmin, d.tmax, s.min_loc, s.max_loc,
                     CASE WHEN lead(d.date) OVER w IS NULL THEN d.tmin
                          WHEN date_diff('day', d.date, lead(d.date) OVER w) = 1 THEN lead(d.tmin) OVER w
                          END AS min_val_next,
                     CASE WHEN lag(d.date) OVER w IS NULL THEN d.tmax
                          WHEN date_diff('day', lag(d.date) OVER w, d.date) = 1 THEN lag(d.tmax) OVER w
                          END AS max_val_before
              FROM daily_t d JOIN locs s ON d.date = s.date
              WINDOW w AS (PARTITION BY d.user_id ORDER BY d.date)
            ),
            hourly_t AS (
              SELECT l.*, h.h,
                     CAST(l.date AS TIMESTAMP) + to_hours(h.h) AS ts
              FROM loc_t l CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            vals AS (
              SELECT user_id, ts, h, max_loc,
                     CASE WHEN h < max_loc THEN tmin ELSE min_val_next END AS minv,
                     CASE WHEN h < min_loc THEN max_val_before ELSE tmax END AS maxv
              FROM hourly_t
            )
            SELECT user_id, ts,
                   round((minv + (maxv - minv)/2.0)
                         + (maxv - minv)/2.0 * cos(2*pi()/24.0 * (h - max_loc)), 6) AS temp_h
            FROM vals
        """,
        "humidity_lindew": f"""
            {_TEMP_SINE_CORE_SQL},
            met AS ({_MET_HOURLY_SQL}),
            tdew_hr AS (
              SELECT user_id, ts, temp,
                     ln(((CASE WHEN temp >= 273.15 THEN 6.112 * exp(17.62*(temp-273.15)/(243.12+temp-273.15)) ELSE 6.112 * exp(22.46*(temp-273.15)/(272.62+temp-273.15)) END) * hum / 100.0) / 6.112) AS lr
              FROM met
            ),
            tdew_v AS (
              SELECT user_id, CAST(ts AS DATE) AS date,
                     avg(CASE WHEN temp >= 273.15
                         THEN 243.12 * lr / (17.62 - lr)
                         ELSE 272.62 * lr / (22.46 - lr) END + 273.15) AS tdew_d,
                     min(temp) AS tmin_d
              FROM tdew_hr GROUP BY 1, 2
            ),
            reg AS (
              SELECT user_id,
                     covar_samp(tmin_d, tdew_d) / var_samp(tmin_d) AS a1,
                     avg(tdew_d) - covar_samp(tmin_d, tdew_d) / var_samp(tmin_d) * avg(tmin_d) AS a0
              FROM tdew_v GROUP BY 1
            ),
            dly AS (
              SELECT d.user_id, d.date, r.a0 + r.a1 * d.tmin AS tdew_d
              FROM daily_t d JOIN reg r ON r.user_id = d.user_id
            ),
            nxt AS (
              SELECT user_id, date, tdew_d,
                     coalesce(lead(tdew_d) OVER (PARTITION BY user_id ORDER BY date),
                              tdew_d) AS tdew_next
              FROM dly
            ),
            scaffold AS (
              SELECT t.user_id, t.ts, t.temp_raw,
                     n.tdew_d + t.h/24.0 * (n.tdew_next - n.tdew_d)
                       + 0.5*sin((t.h + 1)*pi()/12.0 - 3.0*pi()/4.0) AS tdew
              FROM temp_core t
              JOIN nxt n ON t.user_id = n.user_id AND t.date = n.date
            )
            SELECT user_id, ts,
                   round(CASE WHEN temp_raw IS NULL OR tdew IS NULL THEN NULL
                         ELSE least(greatest(
                       100.0 * (CASE WHEN tdew >= 273.15 THEN 6.112 * exp(17.62*(tdew-273.15)/(243.12+tdew-273.15)) ELSE 6.112 * exp(22.46*(tdew-273.15)/(272.62+tdew-273.15)) END) / (CASE WHEN temp_raw >= 273.15 THEN 6.112 * exp(17.62*(temp_raw-273.15)/(243.12+temp_raw-273.15)) ELSE 6.112 * exp(22.46*(temp_raw-273.15)/(272.62+temp_raw-273.15)) END), 0.0), 100.0) END, 6) AS hum_h
            FROM scaffold
        """,
        "temp_sine_variants": f"""
            SELECT user_id, ts, 'mean' AS method, temp_h FROM (
              WITH daily AS ({_MET_DAILY_SQL})
              SELECT user_id,
                     CAST(date AS TIMESTAMP) + to_hours(h.h) AS ts,
                     round(temp + (tmax - tmin)/2.0 * cos(2*pi()/24.0 * (h.h - 14)), 6) AS temp_h
              FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            )
            UNION ALL
            SELECT user_id, ts, 'night' AS method, temp_h FROM (
              WITH daily_t AS ({_MET_DAILY_SQL}),
              loc_t AS (
                SELECT user_id, date, tmin, tmax,
                       CASE WHEN lead(date) OVER w IS NULL THEN tmin
                            WHEN date_diff('day', date, lead(date) OVER w) = 1 THEN lead(tmin) OVER w
                            END AS min_val_next,
                       CASE WHEN lag(date) OVER w IS NULL THEN tmax
                            WHEN date_diff('day', lag(date) OVER w, date) = 1 THEN lag(tmax) OVER w
                            END AS max_val_before
                FROM daily_t
                WINDOW w AS (PARTITION BY user_id ORDER BY date)
              ),
              hourly_t AS (
                SELECT l.*, h.h,
                       CAST(l.date AS TIMESTAMP) + to_hours(h.h) AS ts
                FROM loc_t l CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
              ),
              vals AS (
                SELECT user_id, ts, h,
                       CASE WHEN h < 14 THEN tmin ELSE min_val_next END AS minv,
                       CASE WHEN h < 7 THEN max_val_before ELSE tmax END AS maxv
                FROM hourly_t
              ),
              pieces AS (
                SELECT user_id, ts, h,
                       minv + (maxv - minv)/2.0 AS vt,
                       (maxv - minv)/2.0 AS hd
                FROM vals
              )
              SELECT user_id, ts,
                     round(CASE
                       WHEN h <= 7 THEN vt + hd * cos(pi()/17.0 * (10 + h))
                       WHEN h < 14 THEN vt + hd * cos(1.25*pi() + 0.75*pi()/7.0 * (h - 7))
                       ELSE vt + hd * cos(pi()/17.0 * (h - 14))
                     END, 6) AS temp_h
              FROM pieces
            )
        """,
        "humidity_variants": f"""
            {_TEMP_SINE_CORE_SQL}
            SELECT t.user_id, t.ts, 'minimal' AS variant,
                   round(CASE WHEN t.temp_raw IS NULL THEN NULL
                         ELSE least(greatest(
                       100.0 * (CASE WHEN d.tmin >= 273.15 THEN 6.112 * exp(17.62*(d.tmin-273.15)/(243.12+d.tmin-273.15)) ELSE 6.112 * exp(22.46*(d.tmin-273.15)/(272.62+d.tmin-273.15)) END) / (CASE WHEN t.temp_raw >= 273.15 THEN 6.112 * exp(17.62*(t.temp_raw-273.15)/(243.12+t.temp_raw-273.15)) ELSE 6.112 * exp(22.46*(t.temp_raw-273.15)/(272.62+t.temp_raw-273.15)) END), 0.0), 100.0) END, 6) AS hum_h
            FROM temp_core t
            JOIN daily_t d ON t.user_id = d.user_id AND t.date = d.date
            UNION ALL
            SELECT t.user_id, t.ts, 'min_max' AS variant,
                   round(CASE WHEN t.temp_raw IS NULL THEN NULL
                         WHEN d.tmax = d.tmin THEN
                            CASE WHEN t.temp_raw = d.tmin OR d.hum_min = d.hum_max THEN NULL
                                 WHEN (t.temp_raw > d.tmin) = (d.hum_min > d.hum_max) THEN 100.0
                                 ELSE 0.0 END
                         ELSE least(greatest(
                            d.hum_max + (t.temp_raw - d.tmin) / (d.tmax - d.tmin)
                                      * (d.hum_min - d.hum_max),
                            0.0), 100.0) END, 6) AS hum_h
            FROM temp_core t
            JOIN daily_t d ON t.user_id = d.user_id AND t.date = d.date
        """,
        "precip_masterstation": f"""
            WITH daily AS ({_MET_DAILY_SQL}),
            m AS (
              SELECT user_id, ts, value AS mp, CAST(ts AS DATE) AS date,
                     sum(value) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS msum
              FROM events
            )
            SELECT m.user_id, m.ts,
                   round(CASE WHEN m.msum IS NULL OR m.msum = 0 OR isnan(m.msum)
                              THEN d.precip / 24.0
                              ELSE m.mp / m.msum * d.precip END, 6) AS precip_h
            FROM m JOIN daily d ON m.user_id = d.user_id AND m.date = d.date
        """,
        "temp_course_variants": f"""
            WITH met AS ({_MET_HOURLY_SQL}),
            daily AS ({_MET_DAILY_SQL}),
            course AS (
              SELECT user_id, month(ts) AS m, hour(ts) AS h2,
                     floor((CAST(sum(CAST(temp AS DECIMAL(20,10))) AS DOUBLE) / count(*))
                           * 1048576.0) / 1048576.0 AS v
              FROM met GROUP BY 1, 2, 3
            ),
            centered AS (
              SELECT user_id, m, h2,
                     v - avg(v) OVER (PARTITION BY user_id, m) AS mc0
              FROM course
            ),
            course2 AS (
              SELECT user_id, month(ts) AS m, hour(ts) AS h2,
                     CAST(sum(CAST(temp AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS v
              FROM met GROUP BY 1, 2, 3
            ),
            norm AS (
              SELECT user_id, m, h2,
                     CASE WHEN max(v) OVER w = min(v) OVER w THEN NULL
                          ELSE (v - min(v) OVER w) / (max(v) OVER w - min(v) OVER w)
                     END AS nv
              FROM course2 WINDOW w AS (PARTITION BY user_id, m)
            ),
            grid AS (
              SELECT d.user_id, d.date, d.temp, d.tmin, d.tmax,
                     CAST(d.date AS TIMESTAMP) + to_hours(h.h) AS ts, h.h
              FROM daily d CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            )
            SELECT 'mean' AS variant, g.user_id, g.ts,
                   round(g.temp + (g.tmax - g.tmin) * c.mc0, 6) AS temp_mc
            FROM grid g LEFT JOIN centered c
              ON c.user_id = g.user_id AND c.m = month(g.ts) AND c.h2 = g.h
            UNION ALL
            SELECT 'min_max' AS variant, g.user_id, g.ts,
                   round(n.nv * (g.tmax - g.tmin) + g.tmin, 6) AS temp_mc
            FROM grid g LEFT JOIN norm n
              ON n.user_id = g.user_id AND n.m = month(g.ts) AND n.h2 = g.h
        """,
        "angstroem_fit": f"""
            WITH daily AS ({_MET_DAILY_SQL}),
            sg AS (
              SELECT user_id, date, "glob", hum,
                     radians((360.0/365.25) * (CAST(dayofyear(date) AS DOUBLE) - 79.346)) AS b0,
                     2 * pi() * (CAST(dayofyear(date) AS DOUBLE) - 1) / 365.0 AS s0
              FROM daily
            ),
            sa AS (
              SELECT user_id, date, "glob", hum,
                     radians(0.3723 + 23.2567*sin(b0) - 0.7580*cos(b0)
                             + 0.1149*sin(2*b0) + 0.3656*cos(2*b0)
                             - 0.1712*sin(3*b0) + 0.0201*cos(3*b0)) AS decl,
                     (12.0/pi()) * (0.000075 + 0.001868*cos(s0) - 0.032077*sin(s0)
                             - 0.014615*cos(2*s0) - 0.040849*sin(2*s0)) AS eq_time
              FROM sg
            ),
            sb AS (
              SELECT user_id, date, "glob", hum,
                     12.0 - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time AS sunnoon,
                     -tan(radians({LAT})) * tan(decl) AS oarg,
                     eq_time
              FROM sa
            ),
            dl AS (
              SELECT user_id, date, "glob", hum,
                     (CASE WHEN oarg < -1 THEN sunnoon + 12
                           WHEN oarg > 1 THEN sunnoon
                           ELSE 12.0*(1.0 + acos(oarg)/pi())
                                - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time END)
                     - (CASE WHEN oarg < -1 THEN sunnoon - 12
                             WHEN oarg > 1 THEN sunnoon
                             ELSE 12.0*(1.0 - acos(oarg)/pi())
                                  - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time END)
                     AS daylength
              FROM sb
            ),
            reg AS (
              SELECT user_id,
                     100.0 + 2.0*"glob" AS x1,
                     ((hum - floor(hum/10.0)*10.0) / daylength) * (100.0 + 2.0*"glob") AS x2,
                     "glob" AS y
              FROM dl WHERE daylength > 0
            ),
            s AS (
              SELECT user_id,
                     sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
                     sum(x1*y) AS s1y, sum(x2*y) AS s2y
              FROM reg GROUP BY 1
            )
            SELECT user_id,
                   round((s1y*s22 - s2y*s12) / (s11*s22 - s12*s12), 6) AS a_fit,
                   round((s2y*s11 - s1y*s12) / (s11*s22 - s12*s12), 6) AS b_fit
            FROM s
        """,
        "wind_cosine_fit": f"""
            WITH met AS ({_MET_HOURLY_SQL}),
            w AS (
              SELECT user_id, ts, hum/10.0 AS wind,
                     avg(hum/10.0) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS m
              FROM met
            ),
            r AS (
              SELECT user_id,
                     m * cos(pi() * hour(ts) / 12.0) AS x1,
                     m * sin(pi() * hour(ts) / 12.0) AS x2,
                     m AS x3,
                     wind AS y
              FROM w
            ),
            s AS (
              SELECT user_id,
                     sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x1*x3) AS s13,
                     sum(x2*x2) AS s22, sum(x2*x3) AS s23, sum(x3*x3) AS s33,
                     sum(x1*y) AS b1, sum(x2*y) AS b2, sum(x3*y) AS b3
              FROM r GROUP BY 1
            ),
            solved AS (
              SELECT user_id,
                     (b1*(s22*s33 - s23*s23) - s12*(b2*s33 - s23*b3) + s13*(b2*s23 - s22*b3))
                     / (s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13) + s13*(s12*s23 - s22*s13)) AS alpha,
                     (s11*(b2*s33 - s23*b3) - b1*(s12*s33 - s23*s13) + s13*(s12*b3 - b2*s13))
                     / (s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13) + s13*(s12*s23 - s22*s13)) AS beta,
                     (s11*(s22*b3 - b2*s23) - s12*(s12*b3 - b2*s13) + b1*(s12*s23 - s22*s13))
                     / (s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13) + s13*(s12*s23 - s22*s13)) AS bcoef
              FROM s
            )
            SELECT user_id,
                   round(sqrt(alpha*alpha + beta*beta), 4) AS a_fit,
                   round(bcoef, 4) AS b_fit,
                   round(12.0/pi() * atan2(beta, alpha), 4) AS t_shift_fit
            FROM solved
        """,
        "radiation_ssd": f"""
            WITH daily AS ({_MET_DAILY_SQL}),
            dts AS (SELECT DISTINCT date FROM daily),
            sg AS (
              SELECT date,
                     radians((360.0/365.25) * (CAST(dayofyear(date) AS DOUBLE) - 79.346)) AS b0,
                     2 * pi() * (CAST(dayofyear(date) AS DOUBLE) - 1) / 365.0 AS s0
              FROM dts
            ),
            sa AS (
              SELECT date,
                     radians(0.3723 + 23.2567*sin(b0) - 0.7580*cos(b0)
                             + 0.1149*sin(2*b0) + 0.3656*cos(2*b0)
                             - 0.1712*sin(3*b0) + 0.0201*cos(3*b0)) AS decl,
                     (12.0/pi()) * (0.000075 + 0.001868*cos(s0) - 0.032077*sin(s0)
                             - 0.014615*cos(2*s0) - 0.040849*sin(2*s0)) AS eq_time
              FROM sg
            ),
            sb AS (
              SELECT date,
                     12.0 - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time AS sunnoon,
                     -tan(radians({LAT})) * tan(decl) AS oarg,
                     eq_time
              FROM sa
            ),
            dl AS (
              SELECT date,
                     (CASE WHEN oarg < -1 THEN sunnoon + 12
                           WHEN oarg > 1 THEN sunnoon
                           ELSE 12.0*(1.0 + acos(oarg)/pi())
                                - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time END)
                     - (CASE WHEN oarg < -1 THEN sunnoon - 12
                             WHEN oarg > 1 THEN sunnoon
                             ELSE 12.0*(1.0 - acos(oarg)/pi())
                                  - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time END)
                     AS daylength
              FROM sb
            ),
            grid AS (
              SELECT d.user_id, d.date,
                     d.hum - floor(d.hum/10.0)*10.0 AS ssd,
                     CAST(d.date AS TIMESTAMP) + to_hours(h.h) AS ts,
                     CAST(h.h AS DOUBLE) AS hh
              FROM daily d CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            pr AS (
              SELECT user_id, date, ts, ssd,
                     greatest(sin(radians(23.43697) * cos(2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE) - 173.0)/365.25))*sin(radians({LAT}))
                              + cos(radians(23.43697) * cos(2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE) - 173.0)/365.25))*cos(radians({LAT}))
                                * cos(pi() * (((hh + ({LON} - {TZ}*15.0)*24.0/360.0) / 12.0) - 1.0)), 0.0) AS cz,
                     2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE)/365.25) AS beta
              FROM grid
            ),
            p2 AS (
              SELECT user_id, date, ts, ssd,
                     1367.0 * (1.00011 + 0.034221*cos(beta) + 0.00128*sin(beta)
                               + 0.000719*cos(2.0*beta) + 0.000077*sin(2.0*beta))
                     * (0.6 + 0.2*cz) * cz AS pot
              FROM pr
            ),
            p3 AS (
              SELECT *, avg(pot) OVER (PARTITION BY user_id, date) AS potd
              FROM p2
            ),
            gd AS (
              SELECT p3.user_id, p3.ts, p3.pot, p3.potd,
                     CASE WHEN dl.daylength > 0
                          THEN (0.25 + 0.5 * p3.ssd / dl.daylength) * p3.potd
                          ELSE 0.0 END AS glob_day
              FROM p3 JOIN dl ON p3.date = dl.date
            )
            SELECT user_id, ts,
                   round(CASE WHEN (pot / potd * glob_day) < 0.01 THEN 0.0
                         ELSE pot / potd * glob_day END, 6) AS glob_h
            FROM gd
        """,
        "radiation_course": f"""
            WITH met AS ({_MET_HOURLY_SQL}),
            daily AS ({_MET_DAILY_SQL}),
            course AS (
              SELECT user_id, month(ts) AS m, hour(ts) AS h2,
                     floor((CAST(sum(CAST("glob" AS DECIMAL(20,10))) AS DOUBLE) / count(*))
                           * 1048576.0) / 1048576.0 AS v
              FROM met GROUP BY 1, 2, 3
            ),
            grid AS (
              SELECT d.user_id, d.date, d."glob" AS glob_d,
                     CAST(d.date AS TIMESTAMP) + to_hours(h.h) AS ts, h.h
              FROM daily d CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            j AS (
              SELECT g.user_id, g.date, g.ts, g.glob_d, c.v AS pot
              FROM grid g LEFT JOIN course c
                ON c.user_id = g.user_id AND c.m = month(g.ts) AND c.h2 = g.h
            ),
            p3 AS (
              SELECT *, avg(pot) OVER (PARTITION BY user_id, date) AS potd
              FROM j
            )
            SELECT user_id, ts,
                   round(CASE WHEN (pot / potd * glob_d) < 0.01 THEN 0.0
                         ELSE pot / potd * glob_d END, 6) AS glob_h
            FROM p3
        """,
        "multimodal_hist": """
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS n_bytes,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 0.0
                        ELSE round((length(text) - length(replace(text, ' ', ''))) * 1.0
                                   / octet_length(CAST(text AS BLOB)), 6) END AS space_frac,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 0.0
                        ELSE round((length(text) - length(replace(text, 'e', ''))) * 1.0
                                   / octet_length(CAST(text AS BLOB)), 6) END AS e_frac
            FROM documents
        """,
        "api_pipeline": f"""
            WITH daily0 AS ({_MET_DAILY_SQL}),
            rng AS (
              SELECT user_id, min(date) AS d0, max(date) AS d1
              FROM daily0 GROUP BY 1
            ),
            cal AS (
              SELECT user_id,
                     CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                 CAST(d1 AS TIMESTAMP),
                                                 INTERVAL 1 DAY)) AS DATE) AS date
              FROM rng
            ),
            dailyf AS (
              SELECT c.user_id, c.date, d.tmin, d.tmax, d.hum
              FROM cal c LEFT JOIN daily0 d
                ON c.user_id = d.user_id AND c.date = d.date
            ),
            loc_t AS (
              SELECT user_id, date, tmin, tmax, hum,
                     CASE WHEN lead(date) OVER w IS NULL THEN tmin
                          ELSE lead(tmin) OVER w END AS min_val_next,
                     CASE WHEN lag(date) OVER w IS NULL THEN tmax
                          ELSE lag(tmax) OVER w END AS max_val_before
              FROM dailyf
              WINDOW w AS (PARTITION BY user_id ORDER BY date)
            ),
            hourly_t AS (
              SELECT l.*, h.h,
                     CAST(l.date AS TIMESTAMP) + to_hours(h.h) AS ts
              FROM loc_t l CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            temp_c AS (
              SELECT user_id, ts, date, hum AS hum_obs, tmin,
                     (CASE WHEN h < 14 THEN tmin ELSE min_val_next END
                      + (CASE WHEN h < 7 THEN max_val_before ELSE tmax END
                         - CASE WHEN h < 14 THEN tmin ELSE min_val_next END)/2.0)
                     + (CASE WHEN h < 7 THEN max_val_before ELSE tmax END
                        - CASE WHEN h < 14 THEN tmin ELSE min_val_next END)/2.0
                       * cos(2*pi()/24.0 * (h - 14)) AS temp_raw
              FROM hourly_t
            ),
            h0 AS (
              SELECT user_id AS station_id, ts, date, hum_obs,
                     100.0 * (CASE WHEN tmin >= 273.15 THEN 6.112 * exp(17.62*(tmin-273.15)/(243.12+tmin-273.15)) ELSE 6.112 * exp(22.46*(tmin-273.15)/(272.62+tmin-273.15)) END) / (CASE WHEN temp_raw >= 273.15 THEN 6.112 * exp(17.62*(temp_raw-273.15)/(243.12+temp_raw-273.15)) ELSE 6.112 * exp(22.46*(temp_raw-273.15)/(272.62+temp_raw-273.15)) END) AS hum0
              FROM temp_c
            ),
            bias AS (
              SELECT *, avg(hum0) OVER (PARTITION BY station_id, date) - hum_obs AS b
              FROM h0
            )
            SELECT station_id, ts,
                   round(CASE WHEN hum0 IS NULL THEN NULL
                         ELSE least(greatest(hum0 - coalesce(b, 0.0), 0.0), 100.0) END, 6) AS hum_h
            FROM bias
        """,
        "temp_sine_sunshift": f"""
            WITH daily_t AS ({_MET_DAILY_SQL}),
            met AS ({_MET_HOURLY_SQL}),
            dts AS (SELECT DISTINCT date FROM daily_t),
            geo AS (
              SELECT date,
                     radians((360.0/365.25) * (CAST(dayofyear(date) AS DOUBLE) - 79.346)) AS b,
                     2 * pi() * (CAST(dayofyear(date) AS DOUBLE) - 1) / 365.0 AS s
              FROM dts
            ),
            ang AS (
              SELECT date,
                     radians(0.3723 + 23.2567*sin(b) - 0.7580*cos(b)
                             + 0.1149*sin(2*b) + 0.3656*cos(2*b)
                             - 0.1712*sin(3*b) + 0.0201*cos(3*b)) AS decl,
                     (12.0/pi()) * (0.000075 + 0.001868*cos(s) - 0.032077*sin(s)
                             - 0.014615*cos(2*s) - 0.040849*sin(2*s)) AS eq_time
              FROM geo
            ),
            sun0 AS (
              SELECT date,
                     12.0 - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time AS sunnoon,
                     -tan(radians({LAT})) * tan(decl) AS oarg,
                     eq_time
              FROM ang
            ),
            sun AS (
              SELECT date, sunnoon,
                     CASE WHEN oarg < -1 THEN sunnoon - 12
                          WHEN oarg > 1 THEN sunnoon
                          ELSE 12.0*(1.0 - acos(oarg)/pi())
                               - ({LON} - {TZ}*15.0)*24.0/360.0 - eq_time END AS sunrise0
              FROM sun0
            ),
            dm AS (
              SELECT user_id, CAST(ts AS DATE) AS date, max(temp) AS mt
              FROM met GROUP BY 1, 2
            ),
            am AS (
              SELECT t.user_id, t.date, max(hour(m.ts)) AS max_hour
              FROM dm t JOIN met m
                ON m.user_id = t.user_id AND CAST(m.ts AS DATE) = t.date
               AND m.temp = t.mt
              GROUP BY 1, 2
            ),
            md AS (
              SELECT a.user_id, month(a.date) AS mth,
                     avg(a.max_hour - s.sunnoon) AS max_delta
              FROM am a JOIN sun s ON a.date = s.date
              GROUP BY 1, 2
            ),
            locs AS (
              SELECT d.user_id, d.date, d.tmin, d.tmax,
                     CAST(round(CASE WHEN s.sunrise0 < 0 THEN s.sunrise0 + 24
                                     ELSE s.sunrise0 END) AS INT) AS min_loc,
                     CAST(round(s.sunnoon + m.max_delta) AS INT) AS max_loc0,
                     CAST(round(s.sunnoon) AS INT) + 2 AS max_loc_fb
              FROM daily_t d
              JOIN sun s ON d.date = s.date
              JOIN md m ON m.user_id = d.user_id AND m.mth = month(d.date)
            ),
            locs2 AS (
              SELECT user_id, date, tmin, tmax, min_loc,
                     CASE WHEN min_loc > max_loc0 THEN max_loc_fb
                          ELSE max_loc0 END AS max_loc
              FROM locs
            ),
            loc_t AS (
              SELECT user_id, date, tmin, tmax, min_loc, max_loc,
                     CASE WHEN lead(date) OVER w IS NULL THEN tmin
                          WHEN date_diff('day', date, lead(date) OVER w) = 1 THEN lead(tmin) OVER w
                          END AS min_val_next,
                     CASE WHEN lag(date) OVER w IS NULL THEN tmax
                          WHEN date_diff('day', lag(date) OVER w, date) = 1 THEN lag(tmax) OVER w
                          END AS max_val_before
              FROM locs2
              WINDOW w AS (PARTITION BY user_id ORDER BY date)
            ),
            hourly_t AS (
              SELECT l.*, h.h,
                     CAST(l.date AS TIMESTAMP) + to_hours(h.h) AS ts
              FROM loc_t l CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            vals AS (
              SELECT user_id, ts, h, max_loc,
                     CASE WHEN h < max_loc THEN tmin ELSE min_val_next END AS minv,
                     CASE WHEN h < min_loc THEN max_val_before ELSE tmax END AS maxv
              FROM hourly_t
            )
            SELECT user_id, ts,
                   round((minv + (maxv - minv)/2.0)
                         + (maxv - minv)/2.0 * cos(2*pi()/24.0 * (h - max_loc)), 6) AS temp_h
            FROM vals
        """,
        "radiation_bc": _radiation_bc_sql(0.75, 2.4),

        "radiation_potrad": f"""
            WITH daily AS ({_MET_DAILY_SQL}),
            grid AS (
              SELECT d.user_id, d.date, d."glob" AS glob_d,
                     CAST(d.date AS TIMESTAMP) + to_hours(h.h) AS ts,
                     CAST(h.h AS DOUBLE) AS hh
              FROM daily d CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            pr AS (
              SELECT user_id, date, ts, glob_d,
                     greatest(sin(radians(23.43697) * cos(2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE) - 173.0)/365.25))*sin(radians({LAT}))
                              + cos(radians(23.43697) * cos(2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE) - 173.0)/365.25))*cos(radians({LAT}))
                                * cos(pi() * (((hh + ({LON} - {TZ}*15.0)*24.0/360.0) / 12.0) - 1.0)), 0.0) AS cz,
                     2.0*pi()*(CAST(dayofyear(ts) AS DOUBLE)/365.25) AS beta
              FROM grid
            ),
            p2 AS (
              SELECT user_id, date, ts, glob_d,
                     1367.0 * (1.00011 + 0.034221*cos(beta) + 0.00128*sin(beta)
                               + 0.000719*cos(2.0*beta) + 0.000077*sin(2.0*beta))
                     * (0.6 + 0.2*cz) * cz AS pot
              FROM pr
            ),
            p3 AS (
              SELECT *, avg(pot) OVER (PARTITION BY user_id, date) AS potd
              FROM p2
            )
            SELECT user_id, ts,
                   round(CASE WHEN (pot / potd * glob_d) < 0.01 THEN 0.0
                         ELSE pot / potd * glob_d END, 6) AS glob_h
            FROM p3
        """,
        "streaming_daily_agg": f"""
            WITH daily AS ({_MET_DAILY_SQL}),
            cutoff AS (SELECT max(ts) - INTERVAL 2 DAY AS wm FROM events)
            SELECT user_id, date,
                   round(temp, 6) AS temp, round(precip, 3) AS precip,
                   round(hum, 6) AS hum
            FROM daily, cutoff
            WHERE CAST(date AS TIMESTAMP) + INTERVAL 1 DAY <= cutoff.wm
        """,
    }

    sqls = {
        **extended,
        "temp_sine_disagg": temp_sine_sql,
        "gap_analysis": f"""
            WITH daily AS ({_MET_DAILY_SQL}),
            gaps AS (
              SELECT user_id,
                     CAST(sum(CASE WHEN prev_ts IS NOT NULL
                              AND date_diff('microsecond', prev_ts, ts) <> 3600000000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
              FROM (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                FROM events
              ) GROUP BY user_id
            ),
            grid AS (
              SELECT user_id,
                     CAST(date AS TIMESTAMP) + to_hours(h.h) AS ts,
                     precip / 24.0 AS p
              FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
            ),
            b AS (SELECT user_id, min(ts) AS lo0, max(ts) AS hi0 FROM grid GROUP BY 1),
            ragged AS (
              SELECT g.user_id, g.ts, g.p
              FROM grid g JOIN b ON g.user_id = b.user_id
              WHERE g.ts >= b.lo0 + INTERVAL 5 HOUR AND g.ts <= b.hi0 - INTERVAL 3 HOUR
            ),
            bounds AS (
              SELECT user_id,
                     min(CASE WHEN hour(ts) = 0 AND minute(ts) = 0 THEN ts END) AS lo,
                     max(CASE WHEN hour(ts) = 23 AND minute(ts) = 0 THEN ts END) AS hi
              FROM ragged GROUP BY 1
            ),
            kept AS (
              SELECT r.user_id,
                     CAST(count(*) AS BIGINT) AS n_kept,
                     round(sum(r.p), 4) AS precip_kept
              FROM ragged r JOIN bounds o ON r.user_id = o.user_id
              WHERE r.ts BETWEEN o.lo AND o.hi
              GROUP BY 1
            ),
            sess AS (
              SELECT user_id,
                     sum(CASE WHEN prev_ts IS NULL
                              OR date_diff('microsecond', prev_ts, ts) < 7200000000
                              THEN 0 ELSE 1 END)
                       OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
              FROM (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                FROM events
              )
            ),
            sstats AS (
              SELECT user_id,
                     CAST(max(sid) + 1 AS BIGINT) AS n_sessions,
                     CAST(max(cnt) AS BIGINT) AS max_session_rows
              FROM (
                SELECT user_id, sid, count(*) AS cnt
                FROM sess GROUP BY 1, 2
              ) GROUP BY 1
            )
            SELECT g.user_id, g.n_gaps, s.n_sessions, s.max_session_rows,
                   k.n_kept, k.precip_kept
            FROM gaps g
            JOIN kept k ON g.user_id = k.user_id
            JOIN sstats s ON g.user_id = s.user_id
        """,
        "sun_times": sun_common,
        "month_hour_wet_mean": f"""
            WITH m AS ({_MET_HOURLY_SQL}),
            w AS (
              SELECT *, sum(precip) OVER (PARTITION BY user_id, CAST(ts AS DATE)) > 0 AS wet
              FROM m
            )
            SELECT user_id, CAST(month(ts) AS BIGINT) AS month,
                   CAST(hour(ts) AS BIGINT) AS hour, wet,
                   round(avg(hum), 6) AS hum_mean
            FROM w GROUP BY 1, 2, 3, 4
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "embedding_topk": f"""
            SELECT 'brute' AS method, t.* FROM ({topk_sql}) t
            UNION ALL
            SELECT 'ivf' AS method, v.* FROM ({ivf_sql}) v
        """,
        # the APPLY side of PQ / IVF-PQ ANN replayed against
        # the pinned codebook/centroid literals — encode (per-subspace
        # L2 argmin, ties to lowest code), ADC scoring (sum of
        # query·centroid gathers), coarse-cell assignment/probing
        # (cosine argmax / top-2, ties to lowest cell), exactly the
        # kernels' arithmetic
        "pq_topk": f"""
            WITH cbf AS (SELECT [{cb_flat}] AS a),
            cb AS (
              SELECT CAST(floor((t.i - 1) / 256) AS INT) AS s,
                     CAST(floor(((t.i - 1) % 256) / 8) AS INT) AS c,
                     CAST((t.i - 1) % 8 AS INT) AS d,
                     a[t.i] AS val
              FROM cbf CROSS JOIN (SELECT unnest(generate_series(1, 2048)) AS i) t
            ),
            cnf AS (SELECT [{cn_flat}] AS a),
            cn AS (
              SELECT CAST(floor((t.i - 1) / 64) AS INT) AS c,
                     CAST((t.i - 1) % 64 AS INT) AS d,
                     a[t.i] AS val
              FROM cnf CROSS JOIN (SELECT unnest(generate_series(1, 512)) AS i) t
            ),
            vec AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            vn AS (
              SELECT vec_id, e,
                     greatest(sqrt(list_sum(list_transform(e, y -> y * y))), 1e-30) AS nrm
              FROM vec
            ),
            dists AS (
              SELECT v.vec_id, cb.s, cb.c,
                     sum(pow(v.e[cb.s * 8 + cb.d + 1] / v.nrm - cb.val, 2)) AS dist
              FROM vn v CROSS JOIN cb
              GROUP BY 1, 2, 3
            ),
            code AS (
              SELECT vec_id, s, c FROM (
                SELECT vec_id, s, c,
                       row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
                FROM dists
              ) WHERE rn = 1
            ),
            scores AS (
              SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
                     sum((q.e[cb.s * 8 + cb.d + 1] / q.nrm) * cb.val) AS pq_score
              FROM vn q
              JOIN code cd ON cd.vec_id <> q.vec_id
              JOIN cb ON cb.s = cd.s AND cb.c = cd.c
              WHERE q.vec_id < 8
              GROUP BY 1, 2
            ),
            pq AS (
              SELECT query_id, neighbor_id, pq_score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY pq_score DESC, neighbor_id) AS rank
              FROM scores
            ),
            celldot AS (
              SELECT v.vec_id, cn.c,
                     sum((v.e[cn.d + 1] / v.nrm) * cn.val) AS dot
              FROM vn v CROSS JOIN cn
              GROUP BY 1, 2
            ),
            cellrank AS (
              SELECT vec_id, c,
                     row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
              FROM celldot
            ),
            vcell AS (SELECT vec_id, c AS cell FROM cellrank WHERE rn = 1),
            probes AS (
              SELECT vec_id AS query_id, c AS cell
              FROM cellrank WHERE vec_id < 8 AND rn <= 2
            ),
            ivf AS (
              SELECT sc.query_id, sc.neighbor_id, sc.pq_score,
                     row_number() OVER (PARTITION BY sc.query_id
                                        ORDER BY sc.pq_score DESC, sc.neighbor_id) AS rank
              FROM scores sc
              JOIN vcell vc ON vc.vec_id = sc.neighbor_id
              JOIN probes p ON p.query_id = sc.query_id AND p.cell = vc.cell
            )
            SELECT 'pq' AS method, query_id, neighbor_id,
                   round(pq_score, 6) AS pq_score, rank
            FROM pq WHERE rank <= 5
            UNION ALL
            SELECT 'ivfpq' AS method, query_id, neighbor_id,
                   round(pq_score, 6) AS pq_score, rank
            FROM ivf WHERE rank <= 5
        """,
        # the APPLY side of the quality classifier — the
        # same single-scan quality features the hash-green
        # text_curation oracle computes, pushed through the sigmoid
        # of the pinned literal-weighted standardized sum
        "quality_classifier": f"""
            WITH t AS (
              SELECT doc_id, text, lang,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
              FROM documents
            ),
            wl AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     sum(CASE WHEN w = ANY({stop_en}) THEN 1 ELSE 0 END) AS n_stop
              FROM wl GROUP BY doc_id
            ),
            f AS (
              SELECT t.doc_id,
                     CASE WHEN t.lang = 'en' THEN 1.0 ELSE 0.0 END AS label,
                     coalesce(CAST(t.n_tokens AS DOUBLE), 0.0) AS x1,
                     coalesce(CASE WHEN t.n_tokens > 0 THEN
                       length(regexp_replace(t.text, '\\s+', '', 'g')) * 1.0 / t.n_tokens
                     END, 0.0) AS x2,
                     coalesce(CASE WHEN t.n_tokens > 0 THEN
                       s.n_stop * 1.0 / t.n_tokens
                     END, 0.0) AS x3,
                     coalesce(CASE WHEN length(t.text) > 0 THEN
                       (length(t.text) - length(regexp_replace(t.text, '[.,;:!?]', '', 'g'))) * 1.0
                         / length(t.text)
                     END, 0.0) AS x4
              FROM t LEFT JOIN s ON t.doc_id = s.doc_id
            )
            SELECT doc_id, label,
                   round(1.0 / (1.0 + exp(-({logreg_eta}))), 6) AS quality_score
            FROM f
        """,
    }

    # Method-tagged union rows: each branch's twin is built above under
    # its branch name and popped into the union, so every branch of a
    # union row is hash-checked.
    sqls["humidity_variants"] = f"""
        {sqls["humidity_variants"]}
        UNION ALL
        SELECT user_id, ts, 'lindew' AS variant, hum_h
        FROM ({sqls.pop("humidity_lindew")})
    """
    sqls["tokenize_apply"] = _tokenize_apply_sql()
    # 'bc_fitted' replays the 'bc' pipeline with the pinned
    # fit_bristow_campbell_params literals
    from melodist_spark.pipeline.pinned import BC_FITTED as _BCF

    sqls["radiation_proxy_variants"] = f"""
        SELECT 'ssd' AS method, * FROM ({sqls.pop("radiation_ssd")})
        UNION ALL
        SELECT 'bc' AS method, * FROM ({sqls.pop("radiation_bc")})
        UNION ALL
        SELECT 'bc_fitted' AS method, *
        FROM ({_radiation_bc_sql(_BCF["a"], _BCF["c"])})
        UNION ALL
        SELECT 'course' AS method, * FROM ({sqls.pop("radiation_course")})
    """
    sqls["span_removal"] = _span_removal_sql()
    sqls["robots_eval"] = _ROBOTS_EVAL_SQL
    # ann_topk's lsh branch: random-hyperplane bucket join, 6
    # deterministic md5-derived planes replayed as literal
    # list_dot_product sign terms, exact cosine re-rank in-bucket
    bucket_terms6 = []
    for p in range(6):
        plane = _hyperplane(64, p)
        arr = "[" + ",".join(repr(v) for v in plane) + "]"
        bucket_terms6.append(
            f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {arr}) > 0 "
            f"THEN {1 << p} ELSE 0 END"
        )
    b6 = f"""(
          SELECT vec_id, embedding,
                 CAST({" + ".join(bucket_terms6)} AS BIGINT) AS bucket
          FROM embeddings
        )"""
    lsh_topk_sql = f"""
        SELECT 'lsh' AS method, query_id, neighbor_id,
               round(cos, 6) AS score, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cos
            FROM {b6} q JOIN {b6} c
              ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
          )
        ) WHERE rank <= 5
    """
    sqls["ann_topk"] = f"""
        SELECT method, query_id, neighbor_id, cos_sim AS score, rank
        FROM ({sqls.pop("embedding_topk")})
        UNION ALL
        SELECT method, query_id, neighbor_id, pq_score AS score, rank
        FROM ({sqls.pop("pq_topk")})
        UNION ALL
        {lsh_topk_sql}
    """
    sqls["weighted_mixture"] = _WEIGHTED_MIXTURE_SQL
    sqls["temp_sine_variants"] = f"""
        SELECT * FROM ({sqls["temp_sine_variants"]})
        UNION ALL
        SELECT user_id, ts, 'sunloc' AS method, temp_h
        FROM ({sqls.pop("temp_sine_sunloc")})
        UNION ALL
        SELECT user_id, ts, 'sunshift' AS method, temp_h
        FROM ({sqls.pop("temp_sine_sunshift")})
    """
    sqls["benchmark_leakage"] = _BENCHMARK_LEAKAGE_SQL
    # SemDeDup replay against the pinned coarse quantizer —
    # cell assignment is the ivf oracle's celldot/argmax arithmetic
    # (normalized-centroid literal, ties to lowest cell), within-cell
    # pairs re-check exact cosine >= 0.3, and connected components is
    # the dup_clusters oracle's recursive reach CTE (min reachable id)
    sqls["semantic_dedup"] = f"""
        WITH RECURSIVE cnf AS (SELECT [{cn_flat}] AS a),
        cn AS (
          SELECT CAST(floor((t.i - 1) / 64) AS INT) AS c,
                 CAST((t.i - 1) % 64 AS INT) AS d,
                 a[t.i] AS val
          FROM cnf CROSS JOIN (SELECT unnest(generate_series(1, 512)) AS i) t
        ),
        vn AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                 greatest(sqrt(list_dot_product(
                     list_transform(embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(embedding, x -> CAST(x AS DOUBLE)))), 1e-30) AS nrm
          FROM embeddings
        ),
        celldot AS (
          SELECT v.vec_id, cn.c,
                 sum((v.e[cn.d + 1] / v.nrm) * cn.val) AS dot
          FROM vn v CROSS JOIN cn
          GROUP BY 1, 2
        ),
        cell AS (
          SELECT vec_id, c AS cell FROM (
            SELECT vec_id, c,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, c) AS rn
            FROM celldot
          ) WHERE rn = 1
        ),
        b AS (
          SELECT v.vec_id, v.e, v.nrm, cl.cell
          FROM vn v JOIN cell cl USING (vec_id)
        ),
        pairs AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b
          FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
          WHERE list_dot_product(x.e, y.e) / (x.nrm * y.nrm) >= 0.3
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
        ),
        lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
        SELECT emb.vec_id,
               coalesce(l.cluster_id, emb.vec_id) AS cluster_id,
               emb.vec_id = coalesce(l.cluster_id, emb.vec_id) AS keep
        FROM embeddings emb LEFT JOIN lab l ON l.id = emb.vec_id
    """
    return sqls


def q_wind_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine wind disaggregation with fixed params (`wind.py:28-42`)."""
    from melodist_spark.operators.wind import disaggregate_wind

    daily = _met_daily(spark, sf_dir).select(
        "user_id", "date", (F.col("hum") / 10.0).alias("wind")
    )
    params = daily.select("user_id").distinct().select(
        "user_id",
        F.lit(0.4).alias("a"),
        F.lit(1.0).alias("b"),
        F.lit(2.0).alias("t_shift"),
    )
    out = disaggregate_wind(daily, method="cosine", wind_params=params, keys=["user_id"])
    return out.select("user_id", "ts", F.round("wind", 6).alias("wind_h"))


def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional linear interpolation with forward padding
    (`station.py:403-437`, `temperature.py:239`)."""
    from melodist_spark.util.interpolate import interpolate_linear

    daily = _met_daily(spark, sf_dir).select(
        "user_id",
        "date",
        F.when(F.col("precip") >= 1.0, F.col("precip")).alias("v"),
    )
    out = interpolate_linear(
        daily, "v", keys=["user_id"], ts_col="date", limit=None,
        limit_direction="forward",
    )
    return out.select("user_id", "date", F.round("v", 6).alias("v_i"))


def q_validation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skill scores sim-vs-obs (examples.ipynb calc_stats: r, rmse,
    nse) — sim is the previous event's value."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    d = e.select(
        "user_id",
        F.col("value").alias("o"),
        F.lag("value", 1).over(w).alias("s"),
    ).na.drop()
    d = d.withColumn("obar", F.avg("o").over(Window.partitionBy("user_id")))
    return d.groupBy("user_id").agg(
        F.round(F.corr("o", "s"), 6).alias("r"),
        F.round(F.sqrt(F.avg(F.pow(F.col("o") - F.col("s"), 2))), 6).alias("rmse"),
        F.round(
            1
            - F.sum(F.pow(F.col("o") - F.col("s"), 2))
            / F.sum(F.pow(F.col("o") - F.col("obar"), 2)),
            6,
        ).alias("nse"),
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs from MinHash bands (near-dup join), PLUS
    the incremental-ingest path hash-checked in the same row: docs
    with doc_id % 10 == 0 play the "daily batch", the rest the stored signature index
    (:func:`minhash_index`), and :func:`neardup_against` drops batch
    docs whose signature-agreement estimate against any indexed doc
    reaches 0.8 — one band-equality join against state that is
    ~128 B/doc, never re-reading historical text.

    Word 3-gram shingles with 4 bands of 4 hashes: the collision
    probability 1-(1-s^4)^4 is steep around s≈0.7, so the candidate
    set stays near-linear in corpus size instead of the near-all-pairs
    blow-up a unigram/band-of-2 scheme produces on a shared-vocabulary
    corpus (measured 10.6M pairs from 5k docs at sf0.1). Output is the
    tagged union: ('pair', id_a, id_b) full-corpus candidates +
    ('incr_survivor', doc_id, NULL) surviving batch docs — both
    halves value-hashed by the gate (17 of 50 batch docs are dropped
    at sf0.01, so the estimator threshold genuinely bites)."""
    from melodist_spark.pipeline.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
        neardup_against,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # ONE signature frame feeds all three consumers (self-join bands,
    # stored-index half, batch half) — signatures are per-doc, so the
    # index/batch sides are filters over it, exactly the subplan a
    # pipeline materializes once as its durable state (bench persists
    # it in warmup; CacheManager substitutes it into each consumer).
    # Computing them thrice from text tripled the shingle→md5 scan.
    sig = minhash_signature(docs, num_hashes=16, shingle=3)
    bands = lsh_bands(sig, num_hashes=16, band_size=4)
    pairs = lsh_candidate_pairs(bands).select(
        F.lit("pair").alias("kind"), "id_a", "id_b"
    )
    sig_cols = ["doc_id"] + [f"sig_{i}" for i in range(16)]
    index = sig.filter(F.col("doc_id") % 10 != 0).select(*sig_cols)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    survivors = neardup_against(
        batch,
        index,
        num_hashes=16,
        band_size=4,
        shingle=3,
        threshold=0.8,
        batch_sig=sig.filter(F.col("doc_id") % 10 == 0),
    ).select(
        F.lit("incr_survivor").alias("kind"),
        F.col("doc_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
    )
    return pairs.unionByName(survivors)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard for the LSH candidate pairs."""
    from melodist_spark.pipeline.dedup import (
        jaccard_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bands = lsh_bands(
        minhash_signature(docs, num_hashes=16, shingle=3),
        num_hashes=16,
        band_size=4,
    )
    pairs = lsh_candidate_pairs(bands)
    # arrow=True: the per-doc shingle
    # arrays come from ONE Arrow kernel instead of the interpreted
    # zip_with/transform HOF tree (413 s vs 18 s at 2M docs in
    # SCALE.md); bit-identical output pinned by
    # test_jaccard_pairs_arrow_matches_expression_form, and the JVM
    # expression form stays the DuckDB-oracle twin shape. The LSH
    # band chain above keeps the expression-form signature — it is
    # the shared subplan minhash_pairs/dup_clusters also consume.
    out = jaccard_pairs(docs, pairs, shingle=3, arrow=True)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_cascade_disagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade precipitation disaggregation, BOTH sub-daily paths
    (`precipitation.py:74-372`): hourly (avg stats, 45 min→1 h regrid)
    and level-9 5-min (per-level stats, `precipitation.py:132-140`,
    `307-311`), each re-aggregated back to daily totals. The sub-daily
    pattern is stochastic, but every split's branch weights sum to 1
    and the regrids preserve sums, so daily mass balance is EXACT
    (reference invariant `tests/test_precipitation.py:14,26`) — this
    makes the query hash-checkable against the daily-precip oracle
    while still running the full stochastic kernels end-to-end
    (``n_steps`` asserts the complete sub-daily grid was produced).
    Full-resolution value behavior stays pinned by test_cascade.
    Subsumes the former ``cascade_5min`` registry row (grain='5min')."""
    from melodist_spark.operators.cascade import (
        CascadeStatistics,
        disagg_prec_cascade,
    )

    stats = CascadeStatistics()
    stats.fill_with_sample_data()
    daily = _met_daily(spark, sf_dir).select("user_id", "date", "precip")
    hourly = disagg_prec_cascade(daily, stats, seed=42, keys=["user_id"])
    # the 5-min branch sums each day's steps in its own row
    # (emit='daily'): the 288×-wider grid is never exploded. The hourly
    # branch keeps the full-grid + shuffle re-aggregation shape so the
    # bench still times materializing a complete sub-daily product.
    fivemin_daily = disagg_prec_cascade(
        daily, [stats] * 9, hourly=False, level=9, seed=7, keys=["user_id"], emit="daily"
    )

    hourly_day = (
        hourly.groupBy("user_id", F.to_date("ts").alias("date"))
        .agg(
            F.count("*").cast("long").alias("n_steps"),
            F.round(F.sum("precip"), 3).alias("precip_day"),
        )
        .withColumn("grain", F.lit("1h"))
    )
    five_day = fivemin_daily.select(
        "user_id",
        "date",
        "n_steps",
        F.round("precip", 3).alias("precip_day"),
    ).withColumn("grain", F.lit("5min"))
    return hourly_day.unionByName(five_day)


_TEMP_SINE_CORE_SQL = f"""
        WITH daily_t AS ({_MET_DAILY_SQL}),
        loc_t AS (
          SELECT user_id, date, tmin, tmax,
                 CASE WHEN lead(date) OVER w IS NULL THEN tmin
                      WHEN date_diff('day', date, lead(date) OVER w) = 1 THEN lead(tmin) OVER w
                      END AS min_val_next,
                 CASE WHEN lag(date) OVER w IS NULL THEN tmax
                      WHEN date_diff('day', lag(date) OVER w, date) = 1 THEN lag(tmax) OVER w
                      END AS max_val_before
          FROM daily_t
          WINDOW w AS (PARTITION BY user_id ORDER BY date)
        ),
        hourly_t AS (
          SELECT l.*, h.h,
                 CAST(l.date AS TIMESTAMP) + to_hours(h.h) AS ts
          FROM loc_t l CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
        ),
        temp_core AS (
          SELECT user_id, ts, h, date,
                 (CASE WHEN h < 14 THEN tmin ELSE min_val_next END
                  + (CASE WHEN h < 7 THEN max_val_before ELSE tmax END
                     - CASE WHEN h < 14 THEN tmin ELSE min_val_next END)/2.0)
                 + (CASE WHEN h < 7 THEN max_val_before ELSE tmax END
                    - CASE WHEN h < 14 THEN tmin ELSE min_val_next END)/2.0
                   * cos(2*pi()/24.0 * (h - 14)) AS temp_raw
          FROM hourly_t
        )
"""


def _humidity_variant_exprs() -> dict:
    """The by-name column trees of q_humidity_variants: the daily
    dewpoint regression columns, the fused fix-timing sine
    temperature, the three raw hum_disagg values and the exploded
    variant-struct column, all composed from the humidity and
    temperature formula builders. Context-free, so memoized per
    application via _ENTRY_EXPR_MEMO (~3.1k py4j round-trips per
    build otherwise)."""
    from pyspark.sql import Window

    from melodist_spark.operators.humidity import (
        clip_rh,
        linear_dewpoint,
        min_max_rh,
        rh_from_dewpoint,
    )
    from melodist_spark.operators.temperature import (
        sine_min_max_temp,
        transition_vals,
    )

    wd = Window.partitionBy("user_id").orderBy("date")
    daily_exprs = {
        "tdew_reg": F.col("a0") + F.col("a1") * F.col("tmin"),
        "tdew_next": F.coalesce(
            F.lead(F.col("a0") + F.col("a1") * F.col("tmin"), 1).over(wd),
            F.col("a0") + F.col("a1") * F.col("tmin"),
        ),
    }

    hour, max_loc = F.col("hour"), F.col("max_loc")
    minv, maxv = transition_vals(hour, F.col("min_loc"), max_loc)
    temp = sine_min_max_temp(minv, maxv, hour, max_loc)
    t = F.col("__temp")
    # each raw hum_disagg is MATERIALIZED as a column before the clip:
    # clip/round reference the value several times, and handing them
    # the raw trees inlines the vapor-pressure exponentials ~6× into
    # the generator (measured 2.5× slower); the public op
    # materializes hum_disagg the same way
    hd_exprs = {
        # minimal: tdew = daily tmin (`humidity.py:63-66`)
        "__hd_min": rh_from_dewpoint(F.col("tmin"), t),
        "__hd_mm": min_max_rh(
            t, F.col("tmin"), F.col("tmax"), F.col("hum_min"), F.col("hum_max")
        ),
        "__hd_ld": rh_from_dewpoint(
            linear_dewpoint(
                F.col("tdew_reg"), F.col("tdew_next"), F.col("kr"), hour
            ),
            t,
        ),
    }
    out = F.explode(
        F.array(
            *(
                F.struct(
                    F.lit(variant).alias("variant"),
                    F.round(clip_rh(F.col(hd)), 6).alias("hum_h"),
                )
                for variant, hd in (
                    ("minimal", "__hd_min"),
                    ("min_max", "__hd_mm"),
                    ("lindew", "__hd_ld"),
                )
            )
        )
    )
    return {"daily": daily_exprs, "temp": temp, "hd": hd_exprs, "out": out}


def q_humidity_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three humidity methods in one result, tagged by ``variant``:
    ``minimal`` (`humidity.py:63-66`: dewpoint = daily tmin, RH from
    the saturation vapor-pressure ratio), ``min_max``
    (`humidity.py:91-101`: hourly temperature position within the
    daily range) and ``lindew`` (linear_dewpoint_variation,
    `humidity.py:73-86`). A narrow union over the shared
    temperature-sine chain."""
    # All three humidity formulas are row-local functions of the same
    # exploded fix-timing sine temperature, so the row computes that
    # chain once (one neighbour window, which the lindew tdew_next
    # lead shares, and one explode) and emits the three variant rows
    # per hour with one explode-of-structs. The formulas are the
    # library's builders; test_q_humidity_variants_matches_public_ops
    # compares each branch with the public op.
    from melodist_spark.operators.humidity import dewpoint_regression
    from melodist_spark.operators.temperature import (
        _loc_exprs,
        _neighbor_exprs,
    )
    from melodist_spark.util.calendar import hourly_calendar

    exprs = _ENTRY_EXPR_MEMO.get(
        ("humidity_variants",), _humidity_variant_exprs
    )

    m = _met_hourly(spark, sf_dir)
    params = dewpoint_regression(m, keys=["user_id"]).withColumn(
        "kr", F.lit(12)
    )
    daily = _met_daily(spark, sf_dir)
    d = daily.join(F.broadcast(params), ["user_id"], "left")
    d = d.withColumns(exprs["daily"])
    fix = _loc_exprs("fix")
    d = d.withColumns({"min_loc": fix["min_loc"], "max_loc": fix["max_loc"]})
    d = d.withColumns(_neighbor_exprs(["user_id"], "date"))

    hourly = hourly_calendar(d, date_col="date", ts_col="ts").withColumn(
        "hour", F.hour("ts")
    )
    hourly = hourly.withColumn("__temp", exprs["temp"])
    hourly = hourly.withColumns(exprs["hd"])

    return (
        hourly.select("user_id", "ts", exprs["out"].alias("__vh"))
        .select(
            "user_id",
            "ts",
            F.col("__vh.variant").alias("variant"),
            F.col("__vh.hum_h").alias("hum_h"),
        )
    )


def q_temp_course_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both mean-course temperature methods in one frame, tagged by
    ``variant``, over one month-hour course aggregation:

    - ``min_max``: normalized diurnal course rescaled into each
      day's range (`temperature.py:241-249`)
    - ``mean``: month-hour course centered per month, scaled by the
      day's range, added to the daily mean (`temperature.py:251-262`)
    """
    a = q_mean_course_temp(spark, sf_dir).select(
        F.lit("min_max").alias("variant"), "user_id", "ts", "temp_mc"
    )
    b = q_temp_course_mean(spark, sf_dir).select(
        F.lit("mean").alias("variant"), "user_id", "ts", "temp_mc"
    )
    return a.unionByName(b)


def q_mean_course_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mean_course_min_max temperature: normalized diurnal course
    rescaled into each day's range (`temperature.py:241-249`).

    The course means use exact decimal summation (sum(decimal)/count)
    so both engines feed identical doubles into the rescale. Known
    residual: Spark's exact-BigDecimal round() and DuckDB's fp round()
    can still disagree when a value sits exactly on a 0.5e-6 decimal
    boundary (~5 rows per million on this decimally-structured data;
    none at the sf0.01 gate)."""
    from pyspark.sql import Window

    from melodist_spark.operators.temperature import disaggregate_temperature

    m = _met_hourly(spark, sf_dir)
    mc = (
        m.withColumn("__td", F.col("temp").cast("decimal(20,10)"))
        .groupBy(
            "user_id",
            F.month("ts").alias("month"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            (F.sum("__td").cast("double") / F.count("*")).alias("value")
        )
    )
    w = Window.partitionBy("user_id", "month")
    mc = mc.withColumn(
        "value",
        F.try_divide(
            F.col("value") - F.min("value").over(w),
            F.max("value").over(w) - F.min("value").over(w),
        ),
    )
    daily = _met_daily(spark, sf_dir)
    out = disaggregate_temperature(
        daily, method="mean_course_min_max", mean_course=mc, keys=["user_id"]
    )
    return out.select("user_id", "ts", F.round("temp", 6).alias("temp_mc"))


_STREAM_SRC_CACHE: dict = {}


def q_streaming_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming daily aggregation (availableNow +
    2-day watermark, append mode): deterministic — only windows whose
    end precedes ``max(ts) - watermark`` are emitted. The oracle
    replicates the watermark cutoff in SQL.

    Bench convention: the parquet streaming SOURCE is
    written once per process per sf_dir and reused — it's harness
    setup (a stream's source exists before the stream in any real
    deployment), so bench.py's min-of-2-runs prices the stream
    start + watermark aggregation, not a per-run source write.
    Correctness is unaffected: the written frame is a pure function
    of sf_dir."""
    import tempfile
    import uuid

    from melodist_spark.streaming.daily_agg import streaming_daily_from_hourly

    src = _STREAM_SRC_CACHE.get(sf_dir)
    if src is None or not os.path.isdir(src):
        m = _met_hourly(spark, sf_dir)
        src = tempfile.mkdtemp(prefix="stream_src_")
        m.write.mode("overwrite").parquet(src)
        _STREAM_SRC_CACHE[sf_dir] = src

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = streaming_daily_from_hourly(stream, watermark="2 days", keys=["user_id"])
    name = f"sda_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name)
    return out.select(
        "user_id",
        "date",
        F.round("temp", 6).alias("temp"),
        F.round("precip", 3).alias("precip"),
        F.round("hum", 6).alias("hum"),
    )


def q_radiation_potrad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pot_rad radiation disaggregation (`radiation.py:32-101`):
    clear-sky curve scaled so daily means match observed glob, with the
    <0.01 floor. Chains sun geometry, the hourly explode, a per-day
    window mean and the scaling — one oracle for the whole operator."""
    from melodist_spark.operators.radiation import disaggregate_radiation

    daily = _met_daily(spark, sf_dir)
    st = (
        daily.select("user_id").distinct()
        .select(
            "user_id",
            F.lit(LON).alias("lon"),
            F.lit(LAT).alias("lat"),
            F.lit(TZ).alias("timezone"),
        )
    )
    out = disaggregate_radiation(daily, st, method="pot_rad", keys=["user_id"])
    return out.select("user_id", "ts", F.round("glob", 6).alias("glob_h"))


def q_humidity_dewpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dewpoint-regression humidity end-to-end (`humidity.py:63-120` +
    `humidity.py:123-130`): per-user OLS calibration of tdew~tmin,
    daily tdew distributed to hours, saturation-pressure ratio against
    the sine-disaggregated temperature, [0,100] clip. The deepest
    SQL-expressible operator chain."""
    from melodist_spark.operators.humidity import (
        dewpoint_regression,
        disaggregate_humidity,
    )

    m = _met_hourly(spark, sf_dir)
    daily = _met_daily(spark, sf_dir)
    params = dewpoint_regression(m, keys=["user_id"]).withColumn("kr", F.lit(12))
    out = disaggregate_humidity(
        daily,
        method="dewpoint_regression",
        temp_disagg={"method": "sine_min_max", "min_max_time": "fix"},
        hum_params=params,
        keys=["user_id"],
    )
    return out.select("user_id", "ts", F.round("hum", 6).alias("hum_h"))


def q_humidity_mhpm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """month_hour_precip_mean humidity (`humidity.py:102-110`):
    categorical means calibrated from the hourly series, looked up by
    (month, hour, daily-wet)."""
    from melodist_spark.operators.aggregations import month_hour_precip_mean
    from melodist_spark.operators.humidity import disaggregate_humidity

    m = _met_hourly(spark, sf_dir)
    daily = _met_daily(spark, sf_dir)
    mhpm = month_hour_precip_mean(m, keys=["user_id"])
    out = disaggregate_humidity(
        daily,
        method="month_hour_precip_mean",
        month_hour_precip_mean=mhpm,
        keys=["user_id"],
    )
    return out.select("user_id", "ts", F.round("hum", 6).alias("hum_h"))


def q_precip_masterstation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-station precipitation transfer (`precipitation.py:375-413`):
    the master's sub-daily pattern (events.value here) normalized per
    day and rescaled to the target's daily totals; uniform 1/24
    fallback on zero-sum days — the reference's day loop becomes one
    window sum plus a date join."""
    from melodist_spark.operators.precipitation import precip_master_station

    e = _events(spark, sf_dir)
    master = e.select("user_id", "ts", F.col("value").alias("precip"))
    daily = _met_daily(spark, sf_dir).select("user_id", "date", "precip")
    out = precip_master_station(daily, master, keys=["user_id"])
    return out.select("user_id", "ts", F.round("precip", 6).alias("precip_h"))


def _dyadic_course(hourly: DataFrame, col: str, name: str = "value") -> DataFrame:
    """The month-hour mean course of ``col`` as (user_id, month, hour,
    ``name``), each mean floored to the dyadic 2^-20 grid. A day
    window's average of such values is then an exact double sum in
    any summation order, on both engines: power-of-two scaling and
    floor are lossless in IEEE double."""
    q = 1048576.0  # 2^20
    dec = f"__{col[0]}d"  # decimal copy: the sum is exact
    return (
        hourly.withColumn(dec, F.col(col).cast("decimal(20,10)"))
        .groupBy(
            "user_id",
            F.month("ts").alias("month"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            (F.floor((F.sum(dec).cast("double") / F.count("*")) * q) / q).alias(
                name
            )
        )
    )


def q_temp_course_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mean_course_mean temperature (`temperature.py:251-262`): the
    month-hour mean course centered per month, scaled by the day's
    range, added to the daily mean.

    Course means are quantized to the dyadic grid (_dyadic_course) so
    the operator's internal window average, a 24-term double sum,
    is exact and engine-portable."""
    from melodist_spark.operators.temperature import disaggregate_temperature

    mc = _dyadic_course(_met_hourly(spark, sf_dir), "temp")
    daily = _met_daily(spark, sf_dir)
    out = disaggregate_temperature(
        daily, method="mean_course_mean", mean_course=mc, keys=["user_id"]
    )
    return out.select("user_id", "ts", F.round("temp", 6).alias("temp_mc"))


def q_angstroem_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form Angstroem (a, b) calibration (`radiation.py:314-344`):
    the curve_fit of ``obs = (a + b·ssd/daylength)·pot`` is linear in
    (a, b), so the scipy call collapses to 2×2 normal equations — one
    distributed aggregation, no UDF. Inputs: synthetic ssd from hum,
    computed day length, a pot_rad proxy."""
    from melodist_spark.functions.solar import sun_times_exprs
    from melodist_spark.operators.radiation import fit_angstroem_params

    st = sun_times_exprs("date", LON, LAT, TZ)
    daily = (
        _met_daily(spark, sf_dir)
        .withColumn("ssd", F.col("hum") - F.floor(F.col("hum") / 10.0) * 10.0)
        .withColumn("daylength", st["daylength"])
        .withColumn("pot_rad_daily", 100.0 + 2.0 * F.col("glob"))
        .withColumn("obs_rad_daily", F.col("glob"))
    )
    out = fit_angstroem_params(daily, keys=["user_id"])
    return out.select(
        "user_id", F.round("a", 6).alias("a_fit"), F.round("b", 6).alias("b_fit")
    )


def q_wind_cosine_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact wind-cosine calibration (`wind.py:75-93`): after the
    harmonic reparametrization the 3-parameter curve_fit is plain OLS,
    solved as the same normal equations the oracle solves (rounded to
    4 decimals)."""
    from melodist_spark.operators.wind import fit_cosine_function

    m = _met_hourly(spark, sf_dir)
    hourly_wind = m.select("user_id", "ts", (F.col("hum") / 10.0).alias("wind"))
    out = fit_cosine_function(hourly_wind, keys=["user_id"])
    return out.select(
        "user_id",
        F.round("a", 4).alias("a_fit"),
        F.round("b", 4).alias("b_fit"),
        F.round("t_shift", 4).alias("t_shift_fit"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket self-join
    (8 hyperplanes) prunes the O(n²) comparison to bucket collisions,
    exact cosine re-check keeps pairs ≥ 0.3 — the embedding-dedup
    scale path (this synthetic corpus has no true near-dups, so the
    threshold sits inside the observed similarity range)."""
    from melodist_spark.pipeline.similarity import neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = neardup_pairs(emb, dim=64, threshold=0.3, num_planes=8)
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) with the PINNED
    coarse quantizer: every embedding is assigned to its
    cosine-argmax cell of ``pinned.IVF_CENTROIDS`` (the same 8×64
    quantizer the ann_topk ivf branches replay — one coarse model
    per corpus is the production shape), pairs are compared only
    WITHIN a cell (exact cosine ≥ 0.3 — the observed-similarity
    range of this synthetic corpus, as embedding_neardup), and
    connected components label every corpus row with its duplicate
    group's min id. Output is all-integer/boolean (vec_id,
    cluster_id, keep) — hash-exact. Float-boundary margins measured:
    min |cos − 0.3| is 1.8e-4 at sf0.01 / 9.2e-6 at sf0.1 and the
    assignment's argmax top-2 gap is ≥ 4.1e-6, both orders of
    magnitude above cross-engine summation noise."""
    from melodist_spark.pipeline.pinned import IVF_CENTROIDS
    from melodist_spark.pipeline.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # arrow=True: the within-cell cosine is ~85% of this
    # row (stage subs) and the Arrow einsum twin halves it (4.11 →
    # 1.93 s at sf0.1) on the IDENTICAL candidate set; the output is
    # all-integer with the measured ≥9.2e-6 threshold margins, orders
    # of magnitude above einsum-vs-HOF accumulation noise, so the
    # hash check is unaffected (the mirror verifies per run) — the
    # text_curation precedent: oracle rows may run Arrow kernels when
    # the oracle replays semantics, not the kernel
    return semantic_dedup(
        emb, dim=64, threshold=0.3, centroids=IVF_CENTROIDS, arrow=True
    )


def q_cascade_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade calibration (`precipitation.py:416-702`): dyadic
    pair-sums, branch-type/intensity classification, conditional branch
    counts, weight histograms and the sparse/sample fallback, per
    station and aggregation level (``avg_stats=False`` — per-level rows
    carry strictly more information than their count-weighted average,
    which stays pinned by test_cascade kernel parity). Deterministic
    end-to-end, so hash-checked against a 5-level DuckDB oracle:
    ``floor(rn/2)`` pair grouping per level, ``percentile_cont``
    threshold, per-(intensity, boxtype)-cell conditional counts, and
    the (wlower, wupper] weight-class first moment; the too-sparse
    fallback statistics enter as precomputed literal sums."""
    from melodist_spark.operators.cascade import build_casc

    m = _met_hourly(spark, sf_dir).select("user_id", "ts", "precip")
    arrsum = lambda c: F.aggregate(c, F.lit(0.0), lambda a, v: a + v)
    # first moment of the weight histogram over its 7 classes: wxx is
    # the raveled (class, intensity, boxtype) array, so class = i div 8
    wxx_m1 = F.expr(
        "aggregate(zip_with(wxx, sequence(0, size(wxx) - 1),"
        " (x, i) -> x * double(i div 8)), 0D, (a, x) -> a + x)"
    )

    def proj(df):
        return df.select(
            "user_id",
            F.col("level").cast("long").alias("level"),
            F.round(F.element_at("threshold", 1), 6).alias("threshold"),
            F.round(arrsum("p01"), 6).alias("p01_sum"),
            F.round(arrsum("p10"), 6).alias("p10_sum"),
            F.round(arrsum("pxx"), 6).alias("pxx_sum"),
            F.round(wxx_m1, 6).alias("wxx_m1"),
        )

    per_level = build_casc(m, avg_stats=False, keys=["user_id"])
    # the avg_stats=True row (level = -1) anchors the count-weighted
    # level averaging (_weighted_stats / reference __add__+__mul__,
    # cascade.py:111-122) against the oracle's weighted-sum CTE
    averaged = build_casc(m, avg_stats=True, keys=["user_id"])
    return proj(per_level).unionByName(proj(averaged))


def q_smet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMET fleet round-trip (`data_io.py:27-104`, `228-307`): the
    one-distributed-job fleet sink (`write_smet_partitioned`) writes
    one ``<station>.smet`` per station, and the distributed fleet
    reader (`read_smet_fleet`) reads the whole directory back with a
    single text scan. Values are pre-rounded to the format's 2-decimal
    body so the ASCII round-trip is exact and hash-checkable — the
    §2.1 source/sink family's oracle anchor."""
    import tempfile

    from melodist_spark.sources.smet import read_smet_fleet, write_smet_partitioned

    m = _met_hourly(spark, sf_dir).filter(F.col("user_id") < 40)
    df = m.select(
        F.col("user_id").cast("string").alias("station_id"),
        F.date_trunc("minute", F.col("ts")).alias("ts"),
        F.round("temp", 2).alias("temp"),
        F.round("precip", 2).alias("precip"),
    )
    out_dir = tempfile.mkdtemp(prefix="smet_roundtrip_")
    write_smet_partitioned(df, out_dir, mode="h")
    back = read_smet_fleet(spark, out_dir, mode="h")
    return back.select(
        F.col("station_id").cast("long").alias("user_id"),
        "ts",
        "temp",
        "precip",
    )


def _met_stations(daily: DataFrame) -> DataFrame:
    return daily.select("user_id").distinct().select(
        "user_id",
        F.lit(LON).alias("lon"),
        F.lit(LAT).alias("lat"),
        F.lit(TZ).alias("timezone"),
    )


def q_wind_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """equal wind disaggregation (`wind.py:60-63`): the daily mean
    replicated across the 24 hours."""
    from melodist_spark.operators.wind import disaggregate_wind

    daily = _met_daily(spark, sf_dir).withColumn("wind", F.col("hum") / 10.0)
    out = disaggregate_wind(daily, method="equal", keys=["user_id"])
    return out.select("user_id", "ts", F.round("wind", 6).alias("wind_h"))


def q_wind_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both deterministic wind disaggregation methods in one frame,
    tagged by ``method`` (the stochastic ``wind_random`` is its own
    row):

    - ``equal``: daily mean replicated across 24 h (`wind.py:60-63`)
    - ``cosine``: fixed-parameter cosine kernel (`wind.py:28-42`)
    """
    a = q_wind_equal(spark, sf_dir).select(
        F.lit("equal").alias("method"), "user_id", "ts", "wind_h"
    )
    b = q_wind_cosine(spark, sf_dir).select(
        F.lit("cosine").alias("method"), "user_id", "ts", "wind_h"
    )
    return a.unionByName(b)


def q_wind_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """random wind disaggregation (`wind.py:69-70`):
    ``w̄·(-ln U)^0.3`` with U the counter-based uniform keyed by
    (user_id, seed, hour) — reproducible on any layout and rebuilt by
    the DuckDB oracle (the reference's RNG is unseeded)."""
    from melodist_spark.operators.wind import disaggregate_wind

    daily = _met_daily(spark, sf_dir).withColumn("wind", F.col("hum") / 10.0)
    out = disaggregate_wind(daily, method="random", seed=42, keys=["user_id"])
    return out.select("user_id", "ts", F.round("wind", 6).alias("wind_h"))


def q_api_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-level Stations API chain (`station.py:81-103`, `181-401`):
    ingest validation + calendar fill, temperature dispatch, then
    minimal humidity with preserve_daily_mean — the per-day bias
    subtraction (`humidity.py:112-118`) before the [0,100] clip."""
    from melodist_spark.api import Stations

    daily = _met_daily(spark, sf_dir).withColumnRenamed("user_id", "station_id")
    meta = (
        daily.select("station_id")
        .distinct()
        .select(
            "station_id",
            F.lit(LON).alias("lon"),
            F.lit(LAT).alias("lat"),
            F.lit(TZ).alias("timezone"),
        )
    )
    st = Stations(meta, daily)
    st.disaggregate_temperature(method="sine_min_max", min_max_time="fix", polar=False)
    hum = st.disaggregate_humidity(method="minimal", preserve_daily_mean=True)
    return hum.select("station_id", "ts", F.round("hum", 6).alias("hum_h"))


def q_multimodal_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary content features: the multimodal byte-histogram
    path (Arrow-batched mapInPandas over binary payloads — the real,
    non-stubbed part of the media plumbing), driven here with utf-8
    document bytes as payloads. Outputs the payload size and two
    histogram bins (space, 'e')."""
    from melodist_spark.pipeline.multimodal import byte_histogram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    out = byte_histogram(docs)
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.round(F.col("histogram").getItem(32), 6).alias("space_frac"),
        F.round(F.col("histogram").getItem(101), 6).alias("e_frac"),
    )


def _temp_sine_variant_exprs() -> "F.Column":
    """The exploded method-struct column of q_temp_sine_variants,
    composed from the temperature formula builders over each timing
    policy's ``__minl_*``/``__maxl_*`` columns. Every reference is BY
    NAME, so the tree is context-free and memoized per application via
    _ENTRY_EXPR_MEMO (~1.6k py4j round-trips per build otherwise)."""
    from melodist_spark.operators.temperature import (
        sine_mean_temp,
        sine_min_max_temp,
        sine_night_temp,
        transition_vals,
    )

    hour = F.col("hour")

    def policy(tag):
        min_loc, max_loc = F.col(f"__minl_{tag}"), F.col(f"__maxl_{tag}")
        minv, maxv = transition_vals(hour, min_loc, max_loc)
        return minv, maxv, min_loc, max_loc

    minv, maxv, min_loc, max_loc = policy("fix")
    t_mean = sine_mean_temp(
        F.col("mean_val_cur"),
        F.col("min_val_cur"),
        F.col("max_val_cur"),
        hour,
        max_loc,
    )
    t_night = sine_night_temp(minv, maxv, hour, min_loc, max_loc)
    minv, maxv, _, max_loc = policy("sl")
    t_sunloc = sine_min_max_temp(minv, maxv, hour, max_loc)
    minv, maxv, _, max_loc = policy("ss")
    t_sunshift = sine_min_max_temp(minv, maxv, hour, max_loc)
    return F.explode(
        F.array(
            *(
                F.struct(
                    F.lit(method).alias("method"),
                    F.round(t, 6).alias("temp_h"),
                )
                for method, t in (
                    ("mean", t_mean),
                    ("night", t_night),
                    ("sunloc", t_sunloc),
                    ("sunshift", t_sunshift),
                )
            )
        )
    )


def _met_max_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sun_loc_shift calibration of the met fixture: per month,
    the mean offset of the day's warmest hour (the latest hour on
    ties) from solar noon, from the cached hourly frame. Returns
    (user_id, month, max_delta)."""
    from melodist_spark.functions.solar import sun_times_exprs

    m = _met_hourly(spark, sf_dir)
    daily_max = m.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        F.max("temp").alias("tmax_h")
    )
    at_max = (
        m.withColumn("date", F.to_date("ts"))
        .join(daily_max, ["user_id", "date"])
        .filter(F.col("temp") == F.col("tmax_h"))
        .groupBy("user_id", "date")
        .agg(F.max(F.hour("ts")).alias("max_hour"))
    )
    st = sun_times_exprs("date", LON, LAT, TZ)
    return (
        at_max.withColumn("sunnoon", st["sunnoon"])
        .withColumn("delta", F.col("max_hour") - F.col("sunnoon"))
        .groupBy("user_id", F.month("date").alias("month"))
        .agg(F.avg("delta").alias("max_delta"))
    )


def q_temp_sine_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four sine temperature methods in one result, tagged by
    ``method``: ``mean`` (sine_mean, `temperature.py:172-176`),
    ``night`` (sine_min_max with mod_nighttime,
    `temperature.py:145-167`), ``sunloc`` (sine_min_max with
    sun-geometry timing, `temperature.py:92-99` +
    `util/util.py:160-246`) and ``sunshift`` (sine_min_max with the
    data-calibrated sun_loc_shift timing, `temperature.py:97-107`).
    A narrow union with no join between the hourly branches."""
    # The neighbour extremes are policy-independent and every method
    # is a row-local function of the same exploded calendar, so the
    # row builds the daily frame once (one window, one sun tree, the
    # sunshift max_delta broadcast-joined in) and emits the four
    # method rows per hour with one explode-of-structs. The formulas
    # are the library's builders and loc pairs (_loc_exprs);
    # test_q_temp_sine_variants_matches_public_ops compares each
    # branch with the public op.
    from melodist_spark.functions.solar import sun_times_exprs
    from melodist_spark.operators.temperature import _loc_exprs, _neighbor_exprs
    from melodist_spark.util.calendar import hourly_calendar

    md = _met_max_delta(spark, sf_dir)
    daily = _met_daily(spark, sf_dir)
    d = daily.join(
        F.broadcast(
            _met_stations(daily).select("user_id", "lon", "lat", "timezone")
        ),
        ["user_id"],
    )
    d = d.withColumns(sun_times_exprs("date", "lon", "lat", "timezone"))
    d = (
        d.withColumn("month", F.month("date"))
        .join(F.broadcast(md), ["user_id", "month"], "left")
        .drop("month")
    )
    fix = _loc_exprs("fix")
    sunloc = _loc_exprs("sun_loc")
    sunshift = _loc_exprs("sun_loc_shift")
    d = d.withColumns(
        {
            "__minl_fix": fix["min_loc"],
            "__maxl_fix": fix["max_loc"],
            "__minl_sl": sunloc["min_loc"],
            "__maxl_sl": sunloc["max_loc"],
            "__minl_ss": sunshift["min_loc"],
            "__maxl_ss": sunshift["max_loc"],
        }
    )
    d = d.withColumns(_neighbor_exprs(["user_id"], "date"))

    hourly = hourly_calendar(d, date_col="date", ts_col="ts").withColumn(
        "hour", F.hour("ts")
    )

    mt = _ENTRY_EXPR_MEMO.get(
        ("temp_sine_variants_mt",), _temp_sine_variant_exprs
    )
    return (
        hourly.select("user_id", "ts", mt.alias("__mt"))
        .select(
            "user_id",
            "ts",
            F.col("__mt.method").alias("method"),
            F.col("__mt.temp_h").alias("temp_h"),
        )
    )


def q_window_primitives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three event-grain window primitives — running sum (cascade
    regrid, `precipitation.py:292-303`), per-day fraction
    (master-station, `precipitation.py:399-400`), forward fill
    (`util/util.py:60-62`) — plus the Sonntag scalar pair (vapor
    pressure / dewpoint, both temperature branches,
    `util/util.py:70-134`), all in ONE single-scan projection over
    the event stream (subsumes the former ``meteo_scalars`` row:
    identical table and grain, so one compound keeps both operator
    families inside the checked window)."""
    from pyspark.sql import Window

    from melodist_spark.functions.meteo import (
        dewpoint_temperature,
        vapor_pressure,
    )

    m = _met_hourly(spark, sf_dir)
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wday = Window.partitionBy("user_id", F.to_date("ts"))
    v = F.when(F.col("value") > 50, F.col("value"))
    return m.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(wcum), 3).alias("run_sum"),
        F.round(F.col("value") / F.sum("value").over(wday), 6).alias("day_frac"),
        F.round(F.last(v, ignorenulls=True).over(wcum), 6).alias("v_ff"),
        F.round(vapor_pressure(F.col("temp"), F.col("hum")), 6).alias("vp"),
        F.round(dewpoint_temperature(F.col("temp"), F.col("hum")), 6).alias("td"),
    )


def q_dyadic_calendars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two sub-hourly cascade grids, tagged by grain: the 288-step
    5-minute day (`precipitation.py:740-767`) and the level-9 dyadic
    day of 512 boxes (`precipitation.py:705-737`)."""
    from melodist_spark.util.calendar import five_min_calendar, sub_level_calendar

    daily = _met_daily(spark, sf_dir).select("user_id", "date")
    five = five_min_calendar(daily).select(
        "user_id", "ts", F.lit("five_min").alias("grain")
    )
    lvl9 = sub_level_calendar(daily, level=9).select(
        "user_id", "ts", F.lit("level9").alias("grain")
    )
    return five.unionByName(lvl9)


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-analysis feature set in one narrow projection —
    fingerprint, token/quality stats, language-ID scores, Unicode
    script detection and the 16-bit SimHash are all JVM
    column expressions over ``documents``, so the compound is
    join-free and single-scan. Script counts + ``script_pred`` run
    over a probe column where every fifth doc is swapped for a
    rotating Cyrillic/CJK/Arabic snippet (the corpus is ASCII) — the
    literal-char script classes parse identically in Java regex and
    RE2, so the oracle runs the very same strings."""
    from melodist_spark.pipeline.text import (
        detect_script,
        fingerprint,
        language_scores,
        quality_features,
        simhash,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe = F.when(
        F.col("doc_id") % 5 == 0,
        F.when(F.col("doc_id") % 3 == 0, F.lit(_SCRIPT_PROBES[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_SCRIPT_PROBES[1]))
        .otherwise(F.lit(_SCRIPT_PROBES[2])),
    ).otherwise(F.col("text"))
    staged = detect_script(
        simhash(quality_features(docs)).withColumn("__probe", probe),
        "__probe",
    )
    scores = language_scores(F.col("text"))
    return staged.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        scores["score_en"].cast("long").alias("score_en"),
        scores["score_de"].cast("long").alias("score_de"),
        scores["score_es"].cast("long").alias("score_es"),
        F.col("n_latin").cast("long").alias("n_latin"),
        F.col("n_cyrillic").cast("long").alias("n_cyrillic"),
        F.col("n_cjk").cast("long").alias("n_cjk"),
        F.col("n_arabic").cast("long").alias("n_arabic"),
        F.col("n_kana").cast("long").alias("n_kana"),
        F.col("n_hangul").cast("long").alias("n_hangul"),
        "script_pred",
        F.col("simhash").cast("long").alias("simhash"),
    )


def q_gap_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station data-quality summary fusing the gap utilities
    (`util/util.py:249-297`, `300-352`): hourly-step gap count over the
    raw event series, joined with the surviving-hours count and precip
    mass after trimming a ragged grid back to complete midnight-aligned
    days (the drop_incomplete_days chain). The row also anchors
    ``sessionize`` (util/gaps.py:88 — the batch twin of the streaming
    session-window path): per-station session count and longest-session
    row count at a 2-hour gap, hash-checked against DuckDB's running-sum
    -of-breaks replay."""
    from melodist_spark.util.calendar import distribute_equally
    from melodist_spark.util.gaps import (
        detect_gaps,
        drop_incomplete_days,
        sessionize,
    )
    from pyspark.sql import Window

    e = _events(spark, sf_dir).select("user_id", "ts")
    gaps = detect_gaps(e, 3600, keys=["user_id"]).select(
        "user_id", F.col("n_gaps").cast("long").alias("n_gaps")
    )
    sess = sessionize(e, gap="2 hours", keys=["user_id"], ts_col="ts")
    sstats = (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("__n"))
        .groupBy("user_id")
        .agg(
            (F.max("session_id") + F.lit(1)).cast("long").alias("n_sessions"),
            F.max("__n").cast("long").alias("max_session_rows"),
        )
    )

    daily = _met_daily(spark, sf_dir).select("user_id", "date", "precip")
    grid = distribute_equally(daily, "precip", divide=True)
    w = Window.partitionBy("user_id")
    ragged = (
        grid.withColumn("__lo", F.min("ts").over(w))
        .withColumn("__hi", F.max("ts").over(w))
        .filter(
            (F.col("ts") >= F.col("__lo") + F.expr("INTERVAL 5 HOURS"))
            & (F.col("ts") <= F.col("__hi") - F.expr("INTERVAL 3 HOURS"))
        )
        .drop("__lo", "__hi")
    )
    kept = (
        drop_incomplete_days(ragged, keys=["user_id"])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.sum("precip"), 4).alias("precip_kept"),
        )
    )
    return (
        gaps.join(kept, "user_id")
        .join(sstats, "user_id")
        .select(
            "user_id",
            "n_gaps",
            "n_sessions",
            "max_session_rows",
            "n_kept",
            "precip_kept",
        )
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster membership, all three dedup granularities in
    one harmonized (method, doc_id, cluster_id) frame: ``exact``
    (full-text md5 digest groups), ``prefix`` (2-word-prefix digest
    groups — the template-duplicate signal), and ``neardup`` (LSH
    candidate pairs closed into connected components by distributed
    min-label propagation). cluster_id is the min doc_id of the group
    — the deterministic keep representative — and singletons are
    omitted, so the frame IS the curation drop-list join key.
    Subsumes the former ``dedup_groups`` row (digest groups and
    member rows carry the same information; group size is a count
    over cluster_id)."""
    from pyspark.sql import Window

    from melodist_spark.pipeline.dedup import (
        duplicate_clusters,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def digest_members(method: str, digest: F.Column) -> DataFrame:
        w = Window.partitionBy(digest)
        return (
            docs.withColumn("__n", F.count("*").over(w))
            .withColumn("cluster_id", F.min("doc_id").over(w))
            .filter(F.col("__n") > 1)
            .select(F.lit(method).alias("method"), "doc_id", "cluster_id")
        )

    exact = digest_members("exact", F.md5(F.col("text")))
    prefix = digest_members(
        "prefix",
        F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 2))),
    )

    bands = lsh_bands(
        minhash_signature(docs, num_hashes=16, shingle=3),
        num_hashes=16,
        band_size=4,
    )
    pairs = lsh_candidate_pairs(bands)
    near = duplicate_clusters(pairs).select(
        F.lit("neardup").alias("method"),
        F.col("id").alias("doc_id"),
        "cluster_id",
    )
    return exact.unionByName(prefix).unionByName(near)


def _multiline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with synthetic boilerplate lines: the corpus has
    single-line texts, so shared header/footer lines (keyed off
    source and lang — real shared-boilerplate structure) are added to
    give line-level dedup actual cross-document duplicates to find."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.concat(F.lit("shared header for source "), F.col("source")),
            F.col("text"),
            F.concat(F.lit("shared footer for lang "), F.col("lang")),
        ),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level dedup (C4/RefinedWeb pass): every line
    keeps only its first (smallest (doc_id, line_no)) occurrence;
    lines under 10 trimmed chars are exempt. Runs over documents with
    synthetic per-source/per-lang boilerplate lines attached (the
    corpus texts are single-line) — exactly one document per source
    keeps the header and one per lang keeps the footer."""
    from melodist_spark.pipeline.dedup import line_dedup

    out = line_dedup(
        _multiline_docs(spark, sf_dir), min_chars=10, out_col="text_deduped"
    )
    return out.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_in"),
        F.length("text_deduped").cast("long").alias("n_chars_out"),
        "text_deduped",
    )


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: per-document cross-entropy and
    perplexity under an additively-smoothed bigram model trained on
    the corpus itself (self-perplexity — the fluency/repetition
    signal; high-perplexity tail = curation drop candidates).

    Both deployment shapes run, tagged by ``method``: ``join`` (the
    relational model join — the fallback when the model exceeds
    executor memory) and ``broadcast`` (model shipped to workers,
    scoring fully map-side, zero corpus shuffle — the 100 TB default
    for a pruned KenLM-analog). The hash gate checking both against
    one oracle IS the path-equivalence proof.

    SHARED TRAINING: both deployment shapes score with the SAME
    bigram model, so the row trains it once
    (``bigram_lm``), lazily localCheckpoints the two count tables,
    and hands them to both branches via the ops' ``model=`` injection
    point: the broadcast collect materializes the checkpoints at
    build and the join branch's plan reads the same blocks. In
    production you train once and deploy twice — this is that shape.
    The DuckDB twin is unchanged (identical model, identical
    scores)."""
    from melodist_spark.pipeline.lm import (
        bigram_lm,
        lm_cross_entropy,
        lm_cross_entropy_broadcast,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big, uni = bigram_lm(docs, "text", min_count=1)
    model = (big.localCheckpoint(eager=False), uni.localCheckpoint(eager=False))

    def shaped(method: str, out: DataFrame) -> DataFrame:
        return out.select(
            F.lit(method).alias("method"),
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round("cross_entropy", 6).alias("cross_entropy"),
            F.round("perplexity", 6).alias("perplexity"),
        )

    return shaped(
        "join", lm_cross_entropy(docs, alpha=0.4, model=model)
    ).unionByName(
        shaped(
            "broadcast",
            lm_cross_entropy_broadcast(docs, alpha=0.4, model=model),
        )
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText/DSIR-style quality scoring — the APPLY side of the
    quality classifier, oracle-checked: ``logreg_score`` with the
    PINNED model literals from ``pipeline/pinned.py`` (IRLS-trained
    once on sf0.001 by tools/gen_pinned.py; the iterative trainer
    itself has no SQL oracle and stays pytest-pinned against the
    numpy reference — test_logreg_* — plus
    test_pinned_models_match_fresh_training, which retrains and
    asserts the literals). Scoring is a pure codegen expression
    (sigmoid of a literal-weighted sum over standardized single-scan
    quality features — no UDF, no shuffle in the per-document path),
    which is exactly the 100 TB deployment shape: train once, score
    every corpus."""
    from melodist_spark.pipeline.classifier import logreg_score
    from melodist_spark.pipeline.pinned import LOGREG_MODEL
    from melodist_spark.pipeline.text import quality_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = quality_features(docs).na.fill(0.0).withColumn(
        "label", (F.col("lang") == "en").cast("double")
    )
    return logreg_score(feats, LOGREG_MODEL).select(
        "doc_id",
        "label",
        F.round("quality_score", 6).alias("quality_score"),
    )


def q_pq_topk(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    """Product-quantization ANN, both deployment shapes tagged by
    ``method`` — the APPLY side, oracle-checked: codebooks and coarse
    centroids are the PINNED literals from ``pipeline/pinned.py``
    (Lloyd-trained once on sf0.001 by tools/gen_pinned.py; the
    iterative trainers stay pytest-pinned —
    test_pinned_models_match_fresh_training retrains and asserts the
    literals). Given a pinned model, encode + ADC scan + probe are
    pure deterministic functions of the data, so DuckDB can replay
    them: ``pq`` — full scan over m-byte codes (32× compression at
    64 dims, asymmetric-distance LUT scoring, per-batch top-k
    partials) — and ``ivfpq`` — the same codes behind an IVF coarse
    probe (n_probe of k cells), the billion-scale layout where cell
    pruning and code compression compound. Train-once/apply-anywhere
    is exactly the deployment shape at 100 TB."""
    from melodist_spark.pipeline.pinned import IVF_CENTROIDS, PQ_CODEBOOKS
    from melodist_spark.pipeline.similarity import pq_ivfpq_topk

    if emb is None:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)

    # FUSED SCAN: an ivfpq score is the pq ADC score of a row in a
    # probed cell, so the two branches share one scan.
    # pq_ivfpq_topk normalizes/encodes/assigns each batch once and
    # emits both methods' per-batch top-k partials from one scored
    # scan — bit-identical to the public-op pair by construction
    # (same float ops, same order, same batch boundaries; pinned by
    # test_pq_ivfpq_fused_matches_public_ops and the ann_topk
    # oracle hash at both SFs). The shared-encode checkpoint form
    # was measured SLOWER (barrier job > duplicated 5k-row encode,
    # see OPTIMIZATION_r14.md); this form removes the duplicate
    # without any barrier. The pq/ivfpq method filters each price
    # the one fused kernel (like the other fused rows).
    out = pq_ivfpq_topk(
        emb, queries, IVF_CENTROIDS, PQ_CODEBOOKS, k=5, n_probe=2
    )
    return out.select(
        "method",
        "query_id",
        "neighbor_id",
        F.round("pq_score", 6).alias("pq_score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five ANN methods in one union on a common ``score`` column,
    tagged by ``method``: ``brute``/``ivf`` (q_embedding_topk),
    ``pq``/``ivfpq`` (q_pq_topk) and ``lsh``
    (``similarity.py::lsh_topk``, random-hyperplane bucket join +
    exact cosine re-rank within the bucket). ``score`` is cosine
    similarity for brute/ivf/lsh and the ADC asymmetric-distance
    score for pq/ivfpq, so it is comparable within a method only.

    The lsh planes are deterministic (md5-derived, the same
    ``_hyperplane`` table the embedding_neardup oracle replays), so
    DuckDB replays bucket assignment + re-rank exactly; 6 planes
    keeps every query's bucket populated at both gate scales
    (probed: 40 rows at sf0.01 AND sf0.1, min rank-gap margin
    2.5e-4 — far above cross-engine float noise)."""
    from melodist_spark.pipeline.similarity import lsh_topk

    # SHARED SCAN: the five ANN branches reference the embeddings
    # 12 times (db + query sides per method) at ~0.1 s a parquet
    # scan. One lazy localCheckpoint materializes the
    # scan once per build; every branch reads the same blocks. Plan
    # shape within each method is unchanged (the per-method subs
    # still constant-fold the other branches away).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint(
        eager=False
    )
    a = q_embedding_topk(spark, sf_dir, emb=emb).withColumnRenamed(
        "cos_sim", "score"
    )
    b = q_pq_topk(spark, sf_dir, emb=emb).withColumnRenamed(
        "pq_score", "score"
    )
    c = lsh_topk(
        emb, emb.filter(F.col("vec_id") < 8), dim=64, k=5, num_planes=6
    ).select(
        F.lit("lsh").alias("method"),
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )
    return a.unionByName(b).unionByName(c)


def q_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture construction
    (``pipeline/mixing.py::weighted_mixture``) under the DuckDB
    oracle. Three synthetic sources (the ``doc_id % 3`` slices of
    ``documents`` standing in for wiki/web/books manifests) are mixed
    at exact-binary weights 0.625/0.25/0.125 toward ``n_total = 2 *
    |documents|``, which forces every draw shape at once: wiki lands
    ~3.75 epochs (MULTIPLE full epochs + fractional draw), web ~1.5
    (one full + half), books ~0.75 (fractional only, the zero-full
    path). The oracle replays the identical arithmetic — IEEE
    floor(target / n_s) epochs, the md5-prefix uniform
    ``('0x' || substr(md5(seed║name║id), 1, 15))::BIGINT / 2^60 <
    frac`` draw, ``generate_series`` epoch fan-out — so every
    (doc_id, source, epoch) row is hash-checked. Source sizes come
    from one parameter-scale 3-row aggregate (the catalog/manifest
    stand-in; at 100 TB they come from the catalog, never a scan)."""
    from melodist_spark.pipeline.mixing import weighted_mixture

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    g = F.pmod("doc_id", 3)
    srcs = {
        "wiki": docs.filter(g == 0),
        "web": docs.filter(g == 1),
        "books": docs.filter(g == 2),
    }
    by = {
        int(r["g"]): int(r["n"])
        for r in docs.groupBy(g.alias("g")).agg(F.count("*").alias("n")).collect()
    }
    sizes = {"wiki": by.get(0, 0), "web": by.get(1, 0), "books": by.get(2, 0)}
    n_total = 2 * sum(sizes.values())
    mix = weighted_mixture(
        srcs,
        {"wiki": 0.625, "web": 0.25, "books": 0.125},
        n_total=n_total,
        seed=0,
        sizes=sizes,
    )
    return mix.select(
        "doc_id", "source", F.col("epoch").cast("long").alias("epoch")
    )


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training + application: learn a 200-merge BPE table
    from the corpus word counts (one distributed map-side-combined
    aggregation; the sequential merge loop runs on the driver over the
    vocabulary-bounded word-freq table — the model boundary), then
    tokenize the corpus with the broadcast merge table in one
    shuffle-free mapInPandas pass. Emits per-doc piece counts and an
    md5 over the piece stream, joined with "\\n" — which cannot occur
    inside a piece because words are whitespace-split — so the digest
    is unambiguous across piece boundaries (['ab','c'] and ['a','bc']
    hash differently)."""
    from melodist_spark.pipeline.bpe import bpe_tokenize, bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    merges = bpe_train(docs, num_merges=200, min_count=2)
    out = bpe_tokenize(docs, merges)
    return out.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_pieces"),
        F.md5(F.concat_ws("\n", "bpe_tokens")).alias("pieces_md5"),
    )


def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training + application (the
    SentencePiece-default counterpart of q_bpe_tokenize): EM over the
    corpus word-count table learns a 400-piece model on the driver
    (the same vocabulary-bounded model boundary as the BPE merge
    loop), then Viterbi-encodes the corpus with the broadcast piece
    table in one shuffle-free mapInPandas pass. Same no-SQL-oracle
    class as BPE (iterative EM training); the EM lattice and the
    Viterbi encoder are each pytest-pinned against brute-force
    enumeration over all segmentations. Output shape mirrors
    bpe_tokenize: per-doc piece count + an unambiguous digest over
    the piece stream."""
    from melodist_spark.pipeline.unigram import unigram_tokenize, unigram_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    model = unigram_train(docs, vocab_size=400, min_count=2)
    out = unigram_tokenize(docs, model)
    return out.select(
        "doc_id",
        F.size("unigram_tokens").cast("long").alias("n_pieces"),
        F.md5(F.concat_ws("\n", "unigram_tokens")).alias("pieces_md5"),
    )


def q_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLY paths under the DuckDB oracle: encode the
    corpus with the PINNED trained models (``pinned.BPE_MERGES`` /
    ``pinned.UNIGRAM_PIECES``, trained once on sf0.001 by
    tools/gen_pinned.py). Given a fixed model, greedy lowest-rank
    BPE merging and unigram Viterbi segmentation are pure functions
    of the text, which DuckDB
    replays: a recursive CTE runs the merge loop / the Viterbi DP
    over the BOUNDED word-type table and the per-word segmentations
    join back onto the ordered doc word stream
    (:func:`_tokenize_apply_sql`). Output mirrors
    q_bpe_tokenize/q_unigram_tokenize (per-doc piece count + the
    piece-stream digest), tagged by ``method`` — both encoders
    hash-checked in one union row; the iterative trainers stay
    pytest-pinned (test_pinned_models_match_fresh_training).
    Scale shape: the models broadcast, encoding is one shuffle-free
    mapInPandas pass with a per-worker word cache (bpe.py module
    docstring)."""
    from melodist_spark.pipeline.bpe import bpe_tokenize
    from melodist_spark.pipeline.pinned import BPE_MERGES, UNIGRAM_PIECES
    from melodist_spark.pipeline.unigram import unigram_tokenize

    # prune BEFORE the mapInPandas: the encoder carries every input
    # column through Arrow, so an unpruned frame ships lang/source/
    # n_chars through Python for nothing (ReadSchema is plan-tested)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def shape(df, col, method):
        return df.select(
            F.lit(method).alias("method"),
            "doc_id",
            F.size(col).cast("long").alias("n_pieces"),
            F.md5(F.concat_ws("\n", col)).alias("pieces_md5"),
        )

    a = shape(
        bpe_tokenize(docs, [tuple(m) for m in BPE_MERGES]),
        "bpe_tokens",
        "bpe",
    )
    b = shape(
        unigram_tokenize(docs, dict(UNIGRAM_PIECES)),
        "unigram_tokens",
        "unigram",
    )
    return a.unionByName(b)


def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span removal under the oracle (the Lee
    et al. 2022 ExactSubstr excision, ``dedup.remove_repeated_spans``),
    three hash-checked branches:

    - ``single``: one detect+excise round at span_tokens=6 over the
      real ``documents`` corpus, keep-first keeper policy, PORTABLE
      md5-prefix gram hashes so DuckDB replays the ENTIRE pipeline —
      per-position gram hashes, corpus counts, the min-(doc_id, pos)
      keeper, positional coverage, token excision and ordered
      re-aggregation (:func:`_span_removal_sql`).
    - ``removeall``: the same round with ``keep_first=False`` —
      EVERY occurrence of a duplicated gram excised (the conservative
      boilerplate-annihilation policy) — over the ``doc_id % 5``
      slice (its own corpus; the twin drops the keeper CTE and applies
      the same slice), keeping the policy check out of a second
      full-corpus gram-scan budget.
    - ``fixpoint``: the CORPUS-WIDE junction fixpoint
      (``until_clean=True``) on an engineered
      template corpus where round 2 provably fires — G span-owner
      docs (8 shared tokens each, group-unique) and G template pages
      quoting their group's span between GLOBAL 5-token affixes.
      Round 1 excises every quoted span (each affix run is shorter
      than span_tokens, so it survives); the excisions junction all
      templates onto the IDENTICAL 10-token ``P Q`` residual — a new
      corpus-wide duplicate neither original carried — and round 2
      drains it to the keep-first keeper. The oracle replays BOTH
      detect+excise rounds over the same engineered corpus
      (:func:`_span_fixpoint_sql`), so the engine's convergence
      property itself sits under the value-hash gate, including the
      nonzero second-round excision and the cross-round cumulative
      audit.

    Output per branch: the audit columns plus the cleaned text's md5
    (byte-exact: untouched docs keep their original bytes, touched
    docs the single-space re-join). The xxhash64 production hash
    stays pytest-anchored (test_portable_gram_hash_*).

    SHARED GRAM SCAN: rather than two gram scans per branch over
    overlapping corpora (2 full + 2 slice tokenization passes per
    materialization), both branches' span tables come out of ONE
    linear plan: a single groupBy(__gh) computes the full-corpus
    count, the doc_id%5 slice count (counts are slice-local, so the
    slice's duplicate decisions are one conditional count on the same
    shuffle key — not a rescan) AND the keep-first keeper struct; one
    probe join attaches all three to every position; each position
    then emits its branch memberships as an exploded method tag —
    single keeps c_all≥2 minus its keeper occurrence (the public
    op's anti-join collapses into a row-local struct comparison),
    removeall keeps slice positions with c_slice≥2 — and the span
    merge runs once, windowed by (method, doc). Relying on
    ReuseExchange across a self-union instead does NOT work here:
    per-branch column pruning gives each branch a differently-shaped
    aggregate, so the exchanges never canonically match. The merged
    span table (duplicate-volume-sized) is eagerly localCheckpointed
    so the two excision joins read it without recomputing the scan.
    Branch outputs are row-identical to
    remove_repeated_spans(keep_first=True) / (slice,
    keep_first=False) — pytest-pinned
    (test_q_span_removal_branches_match_public_op) on top of the
    unchanged DuckDB twin."""
    from melodist_spark.pipeline.dedup import (
        _excise_spans,
        _finalize_span_audit,
        _gram_positions,
        _merge_hit_positions,
        remove_repeated_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    in_slice = F.col("doc_id") % 5 == 0
    pos = _gram_positions(docs, 6, "text", "doc_id", portable=True)
    agg = pos.groupBy("__gh").agg(
        F.count("*").alias("__c_all"),
        F.count(F.when(in_slice, F.lit(1))).alias("__c_slice"),
        # min(struct(id, pos)) — the keep-first keeper; min over ALL
        # occurrences equals min over the duplicated-gram hits the
        # public op anti-joins against
        F.min(F.struct("doc_id", "__pos")).alias("__k"),
    )
    hits_all = pos.join(agg, "__gh")
    is_single_hit = (F.col("__c_all") >= 2) & ~(
        (F.col("doc_id") == F.col("__k.doc_id"))
        & (F.col("__pos") == F.col("__k.__pos"))
    )
    is_removeall_hit = in_slice & (F.col("__c_slice") >= 2)
    # one exploded method tag per branch membership keeps the whole
    # hit computation in ONE linear plan; the span merge then windows
    # by (method, doc) — per-partition identical to each branch's own
    # window — and the tiny merged span table is eagerly checkpointed
    # so the two excision joins below never recompute the gram scan.
    # BLOCK LIFETIME (accepted): the checkpoint's
    # blocks live until driver GC — they cannot be released here (the
    # returned lazy plan reads them) and no caller hook exists. The
    # table is duplicate-volume-sized (tens of KB per materialization
    # at sf0.1), so the stranded-block total over a bench run is
    # bounded and negligible, unlike the corpus-copy leaks the
    # _local_ck_release discipline exists for
    tagged = hits_all.select(
        "doc_id",
        "__pos",
        F.explode(
            F.array_compact(
                F.array(
                    F.when(is_single_hit, F.lit("single")),
                    F.when(is_removeall_hit, F.lit("removeall")),
                )
            )
        ).alias("method"),
    ).select(F.struct("method", "doc_id").alias("__mid"), "__pos")
    spans = _merge_hit_positions(tagged, 6, "__mid").localCheckpoint(
        eager=True
    )

    def branch_spans(method):
        return spans.filter(F.col("__mid.method") == method).select(
            F.col("__mid.doc_id").alias("doc_id"),
            "span_begin", "span_end", "n_positions",
        )

    # truncate=False: a lazy localCheckpoint per excision would split
    # the union into separate query executions for no benefit — the
    # shared work already sits behind the eager span checkpoint
    zero = F.lit(0).cast("long")
    single_cur, _ = _excise_spans(
        docs, branch_spans("single"),
        "text", "doc_id", zero, truncate=False,
    )
    single = _finalize_span_audit(single_cur, "text")
    removeall_cur, _ = _excise_spans(
        docs.filter(in_slice), branch_spans("removeall"),
        "text", "doc_id", zero, truncate=False,
    )
    removeall = _finalize_span_audit(removeall_cur, "text")

    # the engineered template-junction corpus — literals only, so the
    # DuckDB twin reconstructs it exactly from generate_series
    G = 40
    span_txt = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("s"), F.col("g").cast("string"), F.lit(ch))
            for ch in "abcdefgh"
        ],
    )
    tpl = spark.range(G).select(F.col("id").alias("g"), span_txt.alias("s"))
    owners = tpl.select(F.col("g").alias("doc_id"), F.col("s").alias("text"))
    pages = tpl.select(
        (F.col("g") + F.lit(G)).alias("doc_id"),
        F.concat_ws(
            " ", F.lit("p0 p1 p2 p3 p4"), F.col("s"), F.lit("q0 q1 q2 q3 q4")
        ).alias("text"),
    )
    # coalesce(1): the engineered corpus is 80 literal rows spread
    # over range()'s 64 default partitions — at that size the
    # fixpoint's per-round cost is pure task overhead (measured
    # 4.0 s -> 2.4 s); the keeper policy is deterministic under any
    # partitioning, which the hash gate re-proves every round
    fixpoint = remove_repeated_spans(
        owners.unionByName(pages).coalesce(1), span_tokens=6,
        until_clean=True, portable=True,
    )

    def shape(df, method):
        return df.select(
            F.lit(method).alias("method"),
            "doc_id",
            "n_tokens_removed",
            "n_tokens_kept",
            F.md5("text").alias("clean_md5"),
        )

    return (
        shape(single, "single")
        .unionByName(shape(removeall, "removeall"))
        .unionByName(shape(fixpoint, "fixpoint"))
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining: top bigrams by pointwise mutual
    information (min joint count 5) — the phrase-mining statistic
    behind tokenizer-vocabulary diagnostics and boilerplate
    detection. One map-side-combined bigram count + one unigram
    count; both probability joins broadcast the vocabulary-bounded
    unigram table."""
    from melodist_spark.pipeline.lm import pmi_collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_collocations(docs, min_count=5, top_k=100)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing manifest: documents in a
    reproducible md5 shuffle order, concatenated into one token
    stream and chunked every 512 tokens — per document its absolute
    stream offset and first/last sequence (two-phase distributed
    prefix sum; all-integer output, exact oracle parity)."""
    from melodist_spark.pipeline.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pack_sequences(docs, seq_len=512, n_buckets=64)
    return out.select(
        "doc_id",
        "n_tokens",
        "begin_offset",
        "seq_first",
        "seq_last",
        "offset_in_seq",
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C style): flag
    training documents sharing ≥1 distinct word 5-gram with the
    benchmark set. The benchmark here is the deterministic
    ``doc_id % 41 = 0`` slice of ``documents`` standing in for an eval
    suite; its deduplicated gram-hash set rides a broadcast join, so
    the corpus side is scanned once and never shuffled (the only wide
    op is the map-side-combinable per-doc count).

    Method-tagged union with the two-phase Bloom path
    (``pipeline/bloom.py::decontaminate_bloom`` — JVM-side Bloom
    prefilter, exact verify on surviving grams only). Bloom filters
    have no false negatives and the verify join strikes every false
    positive, so the 'bloom' half must be BIT-IDENTICAL to 'exact' —
    which is precisely what the shared oracle hash-checks.

    The filter is sized by CAPACITY (``n_bench_grams=1<<17``), not by
    pre-counting the benchmark's distinct grams — the standard
    production sizing (you provision a Bloom filter for the eval
    suite's capacity; counting first costs an extra full action and
    the output is identical for any m/k, only the prefilter's FP
    trickle changes). 2^17 covers the gram count at every tested SF
    with the word table still ~150 KB — broadcast noise.

    SHARED GRAM SCAN: a full corpus tokenize+explode pass per branch
    would run the CodegenFallback shingle tree, the dominant
    per-branch cost, twice — pure duplicated work at cluster scale.
    The row runs ONE gram stream;
    each gram carries BOTH membership decisions — the exact broadcast
    join hit, and the packed Bloom probe's maybe-verdict struck by
    the same verify join the public bloom op runs — and one per-doc
    aggregation emits the two method rows with an explode-of-structs.
    Both branches stay real: the bloom columns pass through the
    packed probe expression + verify join exactly as
    ``decontaminate_bloom(filter_mode='packed')`` computes them
    (pin-tested row-identical to BOTH public ops,
    test_q_decontaminate_branches_match_public_ops); the DuckDB twin
    is unchanged. Like the other shared rows, the per-method bench
    subs now price the shared scan plus both predicates minus the
    other method's emit — compare the row total round-to-round."""
    from melodist_spark.pipeline.bloom import (
        bloom_build,
        bloom_parameters,
        bloom_probe_packed,
        bloom_words_local,
    )
    from melodist_spark.pipeline.decontamination import ngram_hashes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    train = docs.filter(F.col("doc_id") % 41 != 0)

    bench_g = (
        ngram_hashes(bench, "text", "doc_id", 5)
        .select(F.col("__g").alias("__bg"))
        .distinct()
    )
    m_bits, k = bloom_parameters(1 << 17, 0.01)
    words = bloom_words_local(
        bloom_build(bench_g, "__bg", m_bits, k), m_bits, k
    )

    grams = ngram_hashes(train, "text", "doc_id", 5)
    probed = bloom_probe_packed(grams, "__g", words, m_bits, k)
    exact = F.broadcast(bench_g)
    verify = F.broadcast(bench_g.select(F.col("__bg").alias("__bv")))
    j = probed.join(
        exact, probed["__g"] == exact["__bg"], "left"
    ).join(
        verify,
        F.col("bloom_maybe") & (F.col("__g") == F.col("__bv")),
        "left",
    )
    per_doc = j.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.sum(
            F.when(F.col("__bg").isNotNull(), 1).otherwise(0)
        ).alias("__h_exact"),
        F.sum(
            F.when(F.col("__bv").isNotNull(), 1).otherwise(0)
        ).alias("__h_bloom"),
    )
    emitted = per_doc.select(
        "doc_id",
        "n_ngrams",
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("method"),
                    F.col("__h_exact").alias("n_hits"),
                ),
                F.struct(
                    F.lit("bloom").alias("method"),
                    F.col("__h_bloom").alias("n_hits"),
                ),
            )
        ).alias("__m"),
    )
    return emitted.select(
        F.col("__m.method").alias("method"),
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("__m.n_hits").cast("long").alias("n_hits"),
        F.round(F.col("__m.n_hits") / F.col("n_ngrams"), 6).alias("overlap"),
        (F.col("__m.n_hits") >= F.lit(1)).alias("contaminated"),
    )


def q_benchmark_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-item leakage audit (the complement of
    q_decontaminate, on the same deterministic doc_id%41 split): for
    each benchmark document, how many of its distinct 5-grams appear
    in the training corpus, how many training docs share at least one
    gram, and the resulting clean/dirty flag — the split GPT-3
    appendix C reports eval results on. The benchmark gram table
    broadcasts into ONE corpus gram scan; the aggregation runs over
    the hit trickle keyed by bench doc."""
    from melodist_spark.pipeline.decontamination import (
        benchmark_leakage_report,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    train = docs.filter(F.col("doc_id") % 41 != 0)
    out = benchmark_leakage_report(
        train, bench, ngram=5, text_is_extracted=True
    )
    return out.select(
        "bench_doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_grams_leaked").cast("long").alias("n_grams_leaked"),
        F.col("n_train_docs").cast("long").alias("n_train_docs"),
        F.round("leak_frac", 6).alias("leak_frac"),
        "clean",
    )


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data sampling, all three curation
    draws method-tagged in one frame:

    - ``stratified``: a 50% id-hash sample, then an exact
      40-docs-per-language stratified draw in id-hash order;
    - ``dsir``: importance resampling toward a target domain (the
      lang='en' slice standing in for the target corpus) — two
      broadcast bigram LMs score every document map-side, the draw is
      the deterministic Gumbel-top-k over md5 uniforms (exact
      weighted sampling without replacement, no RNG state).

    Every number, including the Gumbel keys, is hash-checked against
    the DuckDB oracle."""
    from melodist_spark.pipeline.sampling import (
        hash_sample,
        importance_resample,
        stratified_sample_n,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half = hash_sample(docs, 0.5, id_col="doc_id", salt="hs")
    samp = stratified_sample_n(half, ["lang"], n=40, id_col="doc_id", salt="r3")
    strat = samp.select(
        F.lit("stratified").alias("method"),
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.lit(None).cast("double").alias("log_importance"),
        F.lit(None).cast("double").alias("gumbel_key"),
    )
    target = docs.filter(F.col("lang") == "en")
    dsir = importance_resample(
        docs, target, n=40, min_count=1, salt="dsir"
    ).select(
        F.lit("dsir").alias("method"),
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round("log_importance", 6).alias("log_importance"),
        F.round("gumbel_key", 6).alias("gumbel_key"),
    )
    return strat.unionByName(dsir)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-20 tokens per language by
    frequency (map-side-combined hash aggregate over the exploded
    token stream, window rank on the distinct-token counts)."""
    from melodist_spark.pipeline.text import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = vocab_topk(docs, k=20, by=["lang"])
    return out.select(
        "lang",
        "token",
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"),
    )


#: deterministic mojibake suffix for the text_curation fix_text
#: differential: cp1252 smart quote / double quotes (incl. the
#: C1-control 0x9D right-quote), em dash, Ã-accent, a zero-width
#: space, Â-guillemets, and a C0 control — one of every repair class.
_MOJI_SNIPPET = (
    " itâ€™s â€œcafÃ©â€"
    " â€” naÃ¯ ve​Â«qÂ»"
)


def _sql_str(s: str) -> str:
    """A DuckDB string expression for ``s`` with control/zero-width
    characters riding chr() so the SQL text stays printable."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        o = ord(ch)
        if o < 0x20 or 0x7F <= o < 0xA0 or o in (0x200B, 0x200C, 0x200D, 0xFEFF):
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({o})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return "||".join(parts) if parts else "''"


def _fixed_sql() -> str:
    """DuckDB expression replaying fix_text over the mojibake'd text
    — generated from the same repair tables as the Spark side."""
    from melodist_spark.pipeline.text import fix_text_sql

    return fix_text_sql(
        "(CASE WHEN doc_id % 3 = 0 THEN text || "
        + _sql_str(_MOJI_SNIPPET)
        + " ELSE text END)"
    )


def q_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full single-scan curation audit (merges the former
    ``text_clean`` and ``quality_flags`` rows — in a production
    pipeline these run as one pass): per-doc PII pattern counts and
    the md5-fingerprinted C4-style clean, plus the Gopher/C4
    keep-drop rule booleans and their conjunction — every column a
    narrow codegen expression over one documents scan (the stopword
    count is the only aggregation, map-side combinable)."""
    from melodist_spark.pipeline.text import (
        clean_text,
        fix_text,
        pii_counts,
        quality_flags,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = pii_counts(F.col("text"))
    cleaned = clean_text(F.col("text"))
    # ftfy-style encoding repair, hash-checked. The corpus is
    # synthetic clean ASCII, so a deterministic mojibake'd suffix is
    # appended to every THIRD doc — every class the fixer handles
    # (cp1252 smart quotes/dash, Ã-accents, zero-width, C1 + C0
    # controls, NBSP) — so fixed_md5 hash-checks BOTH paths of the
    # clean-row guard: repaired rows and provably-clean skip rows.
    fixed = fix_text(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(_MOJI_SNIPPET)),
        ).otherwise(F.col("text"))
    )
    out = quality_flags(docs)
    return out.select(
        "doc_id",
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_phones"].cast("long").alias("n_phones"),
        counts["n_ipv4"].cast("long").alias("n_ipv4"),
        F.length(cleaned).cast("long").alias("clean_len"),
        F.md5(cleaned).alias("clean_md5"),
        F.length(fixed).cast("long").alias("fixed_len"),
        F.md5(fixed).alias("fixed_md5"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "ok_length",
        "ok_word_len",
        "ok_stopwords",
        "ok_punct",
        "keep",
    )


def q_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-side curation primitives in one documents
    scan: each document is wrapped in deterministic messy page markup
    (comments, script/style blocks, block elements, entities) and
    stripped back with ``html_to_text``; a campaign-tracking URL
    derived from (source, lang, doc_id) is canonicalized with
    ``normalize_url`` (userinfo/default-port/fragment dropped,
    tracking params removed, params sorted), reduced to its
    registrable domain (multi-part TLDs included), and ranked within
    its domain in md5 order — the per-domain corpus-diversity cap is
    returned as a ``kept`` flag so every row (survivor or not) stays
    hash-checked. All columns are JVM codegen expressions; the only
    exchange is the domain window's hash partition.

    ``domain_pr``: PageRank over the registrable-domain
    link graph (``pipeline/graph.py`` — the Common-Crawl-style host
    ranking signal), 5 fixed power iterations so DuckDB replays it by
    unrolling; the link targets are md5-derived from doc_id (both
    engines compute the identical edge set), and domains outside the
    edge set stay null on both sides."""
    from melodist_spark.pipeline.graph import pagerank
    from melodist_spark.pipeline.text import html_to_text
    from melodist_spark.pipeline.urls import (
        domain_rank,
        normalize_url,
        registered_domain,
        url_host,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sid = F.col("doc_id").cast("string")
    # the paragraph trips each extract_main_content failure
    # mode on a deterministic doc slice, so main_md5 hash-checks the
    # block scorer's DECISIONS, not just its happy path — doc_id%9==0
    # gets a 5-word stub (word floor), %9==1 gets its text
    # link-wrapped (link-density cap), the rest keep the paragraph.
    # %9==2 wraps the paragraph in table soup with per-word
    # inline tags — the nested-layout class where the FLAT scorer's
    # text-to-markup floor deletes real content (main_md5 pins the
    # miss) and the DOM tier recovers it (dom_md5 pins the save).
    m9 = F.pmod("doc_id", 9)
    para = (
        F.when(m9 == 0, F.array_join(F.slice(F.split("text", " "), 1, 5), " "))
        .when(
            m9 == 1,
            F.concat(F.lit('<a href="/x">'), F.col("text"), F.lit("</a>")),
        )
        .otherwise(F.col("text"))
    )
    para_html = F.when(
        m9 == 2,
        F.concat(
            F.lit("<table><tr><td><span>"),
            F.regexp_replace(F.col("text"), r"(\S+)", "<b>$1</b>"),
            F.lit("</span></td></tr></table>"),
        ),
    ).otherwise(F.concat(F.lit("<p>"), para, F.lit("</p>")))
    html = F.concat(
        F.lit("<html><head><title>Doc "), sid,
        F.lit(
            " &amp; notes</title><style>p{margin:0}</style></head>"
            '<body><!-- header --><script type="text/javascript">'
            "var t=1&&0;</script><h1>Doc "
        ),
        sid, F.lit("</h1>"), para_html,
        F.lit("<ul><li>lang: "), F.col("lang"),
        F.lit("</li><li>source: "), F.col("source"),
        F.lit(
            "</li></ul><div>&copy; crawl &nbsp;&lt;archive&gt;"
            "</div></body></html>"
        ),
    )
    tld = (
        F.when(F.pmod("doc_id", 3) == 0, F.lit(".CO.UK"))
        .when(F.pmod("doc_id", 3) == 1, F.lit(".Com"))
        .otherwise(F.lit(".NET"))
    )
    url = F.concat(
        F.lit("HTTPS://bot@WWW."), F.col("source"), F.lit("-Site"), tld,
        F.lit(":443/Crawl//"), F.col("lang"), F.lit("/"), sid,
        F.lit("/?utm_source=feed&ref=rss&id="), sid, F.lit("&b=2&a=1#frag"),
    )
    # domain via the regex head ON PURPOSE: this plan re-references
    # `derived` ~6 times (domain window, distinct-domain CTE + count
    # action, edges + PageRank collect, final join), and Catalyst
    # INLINES the domain expression into every window/join/distinct
    # key — measured: a public-suffix-list broadcast join pays ~0.7 s
    # of broadcast build per materialization (2.6 s -> 7.3 s row) and
    # a literal-map rule scan re-runs in every duplicated key
    # (-> 11.9 s). This query's synthetic TLDs live in the head.
    derived = docs.select(
        "doc_id",
        html_to_text(html).alias("clean"),
        normalize_url(url).alias("url_norm"),
        url_host(url).alias("host"),
        registered_domain(url_host(url)).alias("domain"),
    )
    ranked = domain_rank(derived, domain_col="domain", url_col="url_norm")

    # each doc links its domain to the domain of an md5-chosen
    # partner doc (doc_id is dense 0..n-1 in the test corpus, so
    # pmod(md5, n_docs) always hits a row), a plain equi-join both
    # engines replay identically — no UNPARTITIONED dense-id window
    # anywhere in the registry (asserted by
    # test_global_registry_plan_invariants).
    n_docs = docs.count()
    partner = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint"),
        F.lit(n_docs),
    )
    edges = (
        derived.select(F.col("domain").alias("src"), partner.alias("__pid"))
        .join(
            derived.select(
                F.col("doc_id").alias("__pid"), F.col("domain").alias("dst")
            ),
            "__pid",
        )
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # driver_below: the registrable-domain graph is parameter-sized
    # (|sources| x 3 nodes); the numpy twin runs the identical update
    # rule (test_graph pins the paths equal to 1e-12) without the
    # distributed loop's per-iteration scheduler fixed costs
    pr = pagerank(edges, damping=0.85, n_iter=5, driver_below=100_000).select(
        F.col("node").alias("domain"), F.round("pagerank", 6).alias("domain_pr")
    )

    # main-content columns ride their own documents scan + broadcast
    # join (evaluated ONCE), deliberately NOT inside `derived`: this
    # plan re-references `derived` ~6 times and Catalyst would inline
    # the whole nested-HOF extractor into each copy
    from melodist_spark.pipeline.text import (
        extract_main_content,
        extract_main_content_dom,
    )

    main = extract_main_content(html)
    dom = extract_main_content_dom(html)
    main_cols = docs.select(
        "doc_id",
        F.length(main).cast("long").alias("n_chars_main"),
        F.md5(main).alias("main_md5"),
        F.length(dom).cast("long").alias("n_chars_dom"),
        F.md5(dom).alias("dom_md5"),
    )
    return (
        ranked.join(F.broadcast(pr), "domain", "left")
        .join(F.broadcast(main_cols), "doc_id")
        .select(
            "doc_id",
            "url_norm",
            "host",
            "domain",
            F.col("domain_rank").cast("long").alias("domain_rank"),
            (F.col("domain_rank") <= 25).alias("kept"),
            "domain_pr",
            F.length("clean").cast("long").alias("n_chars_clean"),
            F.md5("clean").alias("clean_md5"),
            "n_chars_main",
            "main_md5",
            "n_chars_dom",
            "dom_md5",
        )
    )


def q_robots_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt compliance, oracle-green: deterministic
    robots BODIES are generated per domain from parquet columns
    in-query, pushed through the REAL text parser
    (``parse_robots_multi``, Arrow-batched, ONE line-scan of every
    body for both agents) and the packed-rule broadcast
    fold (``apply_robots``), for TWO crawler agents — ``melobot``
    (matches the specific ``User-agent: meloBot`` group, so the ``*``
    group must be ignored) and ``othercrawler`` (no specific group →
    falls back to ``*``).  The DuckDB twin never parses text: it
    derives the RULE TABLE the parser must produce relationally from
    the same columns (the fix_text_sql generate-the-twin approach)
    and replays the precedence fold with a window — so a bug in group
    selection, specificity, tie-breaks, wildcard/``$`` translation,
    or the packed-fold SQL flips the hash.

    Covered semantics: longest-match precedence (``/private/pub``
    allow beats ``/private/`` disallow), allow-wins-ties
    (``/tie/`` allow vs ``/tie*`` disallow, both spec 5), ``*`` +
    ``$`` patterns (``/*.tmp$`` hits ``.tmp`` but not ``.tmp.bak``),
    per-domain parameterized rules (``/sec<h>/``), domains with no
    robots at all (left-join null → crawlable), decoy group
    (``ignorebot: Disallow /`` must not leak), and ``Sitemap:``
    records via ``extract_sitemaps`` (h%2+1 lines per body,
    group-independent)."""
    from melodist_spark.pipeline.robots import (
        apply_robots,
        extract_sitemaps,
        parse_robots_multi,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doms = (
        docs.select("source")
        .distinct()
        .withColumn("h", F.substring("source", 4, 10).cast("int"))
    )
    h = F.col("h").cast("string")
    body = F.concat(
        F.lit("# robots for "), F.col("source"),
        F.lit(
            "\nUser-agent: ignorebot\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /private/\nAllow: /private/pub\n"
            "Disallow: /*.tmp$\nAllow: /tie/\nDisallow: /tie*\n"
            "Sitemap: https://"
        ),
        F.col("source"), F.lit("/sitemap.xml\n\nUser-agent: meloBot\nDisallow: /sec"),
        h, F.lit("/\nAllow: /sec"), h, F.lit("/ok\nDisallow: /t/*.log$\n"),
        # h%2==1 domains carry a second sitemap record, legal mid-file
        F.when(
            F.pmod("h", 2) == 1,
            F.concat(F.lit("Sitemap: https://"), F.col("source"), F.lit("/s2.xml\n")),
        ).otherwise(F.lit("")),
    )
    robots = doms.filter(F.pmod("h", 5) != 4).select(
        F.col("source").alias("domain"), body.alias("robots_txt"), "h"
    )

    k = F.col("doc_id").cast("string")
    hdoc = F.substring("source", 4, 10)  # this doc's domain parameter
    m = F.pmod("doc_id", 7)
    path = (
        F.when(m == 0, F.concat(F.lit("/private/doc"), k))
        .when(m == 1, F.concat(F.lit("/private/pub"), k))
        .when(m == 2, F.concat(F.lit("/f"), k, F.lit(".tmp")))
        .when(m == 3, F.concat(F.lit("/f"), k, F.lit(".tmp.bak")))
        .when(m == 4, F.concat(F.lit("/sec"), hdoc, F.lit("/p"), k))
        .when(m == 5, F.concat(F.lit("/sec"), hdoc, F.lit("/ok"), k))
        .otherwise(F.concat(F.lit("/tie/x"), k))
    )
    probe = docs.select(
        "doc_id", F.col("source").alias("domain"), path.alias("path")
    )

    # ONE parse pass emits both agents' rule groups (two per-agent
    # parse_robots kernels would line-scan every body twice); the lazy
    # localCheckpoint materializes the tiny rule table once so the
    # per-agent halves read blocks, not the kernel.
    rules_all = parse_robots_multi(
        robots, agents=("melobot", "othercrawler")
    ).localCheckpoint(eager=False)
    halves = []
    for agent in ("melobot", "othercrawler"):
        rules = rules_all.filter(F.col("agent") == agent).drop("agent")
        halves.append(
            apply_robots(probe, rules).select(
                F.lit(agent).alias("agent"),
                "doc_id",
                "domain",
                "path",
                "crawlable",
            )
        )
    verdicts = halves[0].unionByName(halves[1])

    n_maps = (
        extract_sitemaps(robots)
        .groupBy("domain")
        .agg(F.count("*").cast("long").alias("n_sitemaps"))
    )
    return verdicts.join(F.broadcast(n_maps), "domain", "left").select(
        "agent", "doc_id", "domain", "path", "crawlable", "n_sitemaps"
    )


def q_radiation_proxy_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four radiation disaggregation methods in one frame, tagged
    by ``method``, on the (user_id, ts, glob_h) schema:

    - ``ssd``: Angstroem sunshine-duration scaling
      (`radiation.py:74-87` + `283-311`)
    - ``bc``: Bristow-Campbell temperature-range transmissivity
      (`radiation.py:89-92` + `207-248`)
    - ``bc_fitted``: the same pipeline applying the PINNED
      ``fit_bristow_campbell_params`` output (pinned.BC_FITTED)
    - ``course``: the calibrated month-hour mean diurnal shape
      rescaled to observed daily means (`radiation.py:66-73`)
    """
    # All four methods are row-local functions of the same exploded
    # calendar, so the row builds the shared frame once (one explode,
    # one clear-sky evaluation, the (a, c)-independent BC daily terms
    # once for both parameterizations, two same-key day windows) and
    # emits the four method rows per hour with one explode-of-structs.
    # The formulas are the library's builders;
    # test_q_radiation_proxy_variants_matches_public_ops compares each
    # branch with the public op.
    from pyspark.sql import Window

    from melodist_spark.operators.radiation import (
        _bc_daily_terms,
        _bc_trans_expr,
        _with_station_meta,
        angstroem_expr,
        scaled_glob,
    )
    from melodist_spark.functions.solar import (
        potential_radiation,
        sun_times_exprs,
    )
    from melodist_spark.pipeline.pinned import BC_FITTED
    from melodist_spark.util.calendar import hourly_calendar

    daily = _met_daily(spark, sf_dir).withColumn(
        "ssd", F.col("hum") - F.floor(F.col("hum") / 10.0) * 10.0
    )
    d = _with_station_meta(
        daily.select("user_id", "date", "glob", "ssd", "tmin", "tmax"),
        _met_stations(daily),
        ["user_id"],
    )
    d = d.withColumns(sun_times_exprs("date", "lon", "lat", "timezone"))
    d = _bc_daily_terms(d, ["user_id"], "date")
    d = d.withColumn("__tr_bc", _bc_trans_expr(0.75, 2.4)).withColumn(
        "__tr_bcf",
        _bc_trans_expr(BC_FITTED["a"], BC_FITTED["c"]),
    )

    # the calibrated month-hour mean course, from the cached hourly
    # frame
    mc = _dyadic_course(_met_hourly(spark, sf_dir), "glob", "__course")

    hourly = hourly_calendar(d, date_col="date", ts_col="ts")
    hourly = hourly.withColumn(
        "pot_rad",
        potential_radiation("ts", "lon", "lat", "timezone"),
    )
    hourly = (
        hourly.withColumn("month", F.month("ts"))
        .withColumn("hour", F.hour("ts"))
        .join(F.broadcast(mc), ["user_id", "month", "hour"], "left")
    )
    # window expressions are not allowed inside a generator — attach
    # the two per-day means as columns first, then explode plain refs
    wd = Window.partitionBy("user_id", F.to_date("ts"))
    hourly = hourly.withColumns(
        {
            "pot_rad_daily": F.avg("pot_rad").over(wd),
            "__course_daily": F.avg("__course").over(wd),
        }
    )
    pot, prd = F.col("pot_rad"), F.col("pot_rad_daily")
    glob = {
        "ssd": scaled_glob(
            pot,
            prd,
            angstroem_expr(F.col("ssd"), F.col("daylength"), prd, 0.25, 0.5),
        ),
        "bc": scaled_glob(pot, prd, F.col("__tr_bc") * prd),
        "bc_fitted": scaled_glob(pot, prd, F.col("__tr_bcf") * prd),
        "course": scaled_glob(
            F.col("__course"), F.col("__course_daily"), F.col("glob")
        ),
    }

    return (
        hourly.select(
            "user_id",
            "ts",
            F.explode(
                F.array(
                    *(
                        F.struct(
                            F.lit(method).alias("method"),
                            F.round(g, 6).alias("glob_h"),
                        )
                        for method, g in glob.items()
                    )
                )
            ).alias("__mg"),
        )
        .select(
            F.col("__mg.method").alias("method"),
            "user_id",
            "ts",
            F.col("__mg.glob_h").alias("glob_h"),
        )
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals: the original top-unigram/bigram fractions
    (Gopher A1.3) plus the FULL Gopher repetition-filter family
    (Rae et al. 2021 table A1) — dup line/paragraph occurrence and
    character fractions, top-2/3/4-gram character fractions, and
    positional-coverage dup-5..10-gram character fractions.

    The corpus texts are single-line, so the Gopher family runs over
    a deterministically reconstructed multiline view (the
    ``_multiline_docs`` pattern): tokens regrouped into 4-token
    lines / 4-line paragraphs, with the document's own first
    ``doc_id % 13`` tokens appended first — a planted self-echo whose
    length varies per document, so dup-gram coverage is nonzero
    exactly where the echo is long enough to form a duplicate n-gram
    (and zero for n above the echo length). Same construction in the
    DuckDB oracle."""
    from melodist_spark.pipeline.text import (
        gopher_repetition,
        repetition_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # The multiline reconstruction runs as a small Arrow UDF in the
    # SAME ArrowEvalPython stage as the Gopher kernel. Two rejected
    # expression forms, for the record: naively nested lines/paras
    # transforms re-split the text per lambda element (HOFs are
    # CodegenFallback; measured 14 s for this row at sf0.1), and the
    # let-binding rewrite (element_at(transform(array(x), f), 1))
    # collapses into the pandas-UDF argument, which Spark can neither
    # codegen nor fall back on (INTERNAL_ERROR: Cannot generate code
    # for expression: _kern(...)). The Python construction is
    # mirrored statement-for-statement by the oracle's t0/aug/lines/
    # paras CTEs.
    import pandas as pd

    # no annotations: `from __future__ import annotations` turns them
    # into strings pyspark's hint inference can't resolve — the
    # un-hinted form is the plain SCALAR pandas_udf
    @F.pandas_udf("string")
    def _mk_multi(text, doc_id):
        # ASCII tokenization (not str.split): the oracle's
        # string_split_regex '\s+' is RE2/ASCII — Python's unicode
        # split would diverge on NBSP / U+2028 corpora
        from melodist_spark.pipeline.text import _ascii_ws_split

        out = []
        for t, d in zip(text, doc_id):
            toks = _ascii_ws_split((t or "").lower())
            toks = toks + toks[: int(d) % 13]
            lines = [
                " ".join(toks[i : i + 4]) for i in range(0, len(toks), 4)
            ]
            paras = [
                "\n".join(lines[j : j + 4])
                for j in range(0, len(lines), 4)
            ]
            out.append("\n\n".join(paras))
        return pd.Series(out)

    multi = docs.select(
        "doc_id", _mk_multi(F.col("text"), F.col("doc_id")).alias("text")
    )

    out = repetition_stats(docs).join(
        gopher_repetition(multi, ascii_ws=True), "doc_id"
    )
    metric_cols = [
        c for c in out.columns if c != "doc_id"
    ]
    return out.select(
        "doc_id", *[F.round(c, 6).alias(c) for c in metric_cols]
    )


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the canonical time-series join Spark lacks
    natively): each click event attributed to the same user's most
    recent prior view. Implemented as tag-union + one keyed window
    (one shuffle, no range join); oracle is DuckDB's native ASOF
    LEFT JOIN."""
    from melodist_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, views, keys="user_id", ts_col="ts",
                    right_prefix="view_")
    return out.select(
        "user_id",
        "ts",
        F.round("value", 6).alias("click_value"),
        "view_ts",
        F.round("view_value", 6).alias("view_value"),
    )
