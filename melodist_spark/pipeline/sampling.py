"""Deterministic sampling for training-data curation.

Corpus curation needs *reproducible* samples: the same corpus, salt
and rate must select the same documents on any engine, any partition
layout, any day — so experiments are comparable and ablations
re-runnable. Both operators therefore key on a cryptographic hash of
the document id (never ``rand()``, which is per-task-attempt
nondeterministic and not portable across engines).

Scale shape: ``hash_sample`` is a stateless narrow filter — it
pushes through scans, costs one md5 per row, and never shuffles.
``stratified_sample_n`` is a per-stratum top-n: one shuffle on the
strata key. With few large strata (the language-distribution case)
the window sort would funnel each stratum through one task, so rows
are pre-pruned with a per-partition local top-n before the shuffle —
the same two-phase trick Spark uses for global ``ORDER BY LIMIT``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util.rng import sql_string, uniform


def _hash01(id_col: str, salt: str) -> F.Column:
    """Uniform [0,1) keyed by ``id|salt``, engine-portable (``util/rng.py``)."""
    return F.expr(uniform(f"concat(string(`{id_col}`), {sql_string('|' + salt)})"))


def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by id-hash threshold.

    Different ``salt`` values give independent samples; nested rates
    compose (a 0.5 sample of a 0.5 sample with the same salt is the
    0.25 sample — threshold filters are monotone). Narrow, no shuffle.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_hash01(id_col, salt) < F.lit(fraction))


def stratified_sample_n(
    df: DataFrame,
    strata_cols: list[str],
    n: int,
    id_col: str = "doc_id",
    salt: str = "",
    skew_groups: int = 64,
) -> DataFrame:
    """Deterministic ``n`` rows per stratum, chosen by id-hash order.

    The hash order is a reproducible random order, so this is an
    exact-size uniform sample per stratum (the distributed analogue of
    per-group reservoir sampling, without reservoir state). Ties are
    impossible short of md5 collisions; ``id_col`` breaks them anyway.

    Two-phase top-n (the salted shape of global ``ORDER BY LIMIT``):
    phase 1 ranks within (salt-group, stratum) — ``skew_groups``
    balanced partitions per stratum — and keeps at most ``n`` each, so
    a handful of giant strata (language skew) cannot funnel the corpus
    through single window tasks; phase 2 ranks the surviving
    ``≤ n × skew_groups`` rows per stratum for the exact answer. The
    salt only bounds phase-1 group sizes — the selected sample is
    salt-invariant. ``skew_groups=1`` collapses to the plain window.
    """
    h = _hash01(id_col, salt).alias("__h")
    staged = df.withColumn("__h", h)
    if skew_groups > 1:
        sg = F.pmod(F.xxhash64(F.col(id_col)), F.lit(skew_groups))
        local = Window.partitionBy(sg, *strata_cols).orderBy("__h", id_col)
        staged = staged.withColumn(
            "__local_rank", F.row_number().over(local)
        ).filter(F.col("__local_rank") <= n)
    strat = Window.partitionBy(*strata_cols).orderBy("__h", id_col)
    return (
        staged.withColumn("__rank", F.row_number().over(strat))
        .filter(F.col("__rank") <= n)
        .drop("__h", "__local_rank", "__rank")
    )


def importance_resample(
    df: DataFrame,
    target_df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
    min_count: int = 2,
    alpha: float = 0.4,
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023): draw ``n``
    documents from the raw corpus with probability proportional to
    ``p_target(x) / p_raw(x)`` under two bigram LMs — the standard
    recipe for steering a crawl toward a target domain distribution
    without a trained classifier.

    Log-importance per doc = n_bigrams · (H_raw − H_target) (both
    cross-entropies come from ONE fused pass of :func:`~melodist_spark.
    pipeline.lm.lm_cross_entropy_broadcast_multi` — map-side scoring
    that tokenizes the corpus once for both models; scanned, never
    shuffled). Sampling WITHOUT replacement uses the
    Gumbel-top-k identity (Efraimidis-Spirakis): key =
    log w + Gumbel(u) with u a deterministic md5 hash uniform — the
    draw is exactly the weighted sample yet fully reproducible on any
    partitioning (no RNG state), and the global top-n is the standard
    two-phase ``ORDER BY LIMIT``. Docs with <2 tokens carry zero
    weight (dropped). Returns the sampled rows plus
    ``log_importance`` and the ``gumbel_key`` used for selection.
    """
    from melodist_spark.pipeline.lm import lm_cross_entropy_broadcast_multi

    # ONE fused map-side scorer carries both models (no join, no
    # shuffle in the scoring path — the corpus is tokenized and
    # hashed once, each model adds two sorted-table lookups; the only
    # wide work is the two model TRAINING aggregations)
    both = lm_cross_entropy_broadcast_multi(
        df, trains=[target_df, df], suffixes=["__t", "__r"],
        text_col=text_col, alpha=alpha, min_count=min_count,
    ).select(
        *df.columns,
        F.col("n_bigrams").alias("__nb"),
        F.col("cross_entropy__t").alias("__h_t"),
        F.col("cross_entropy__r").alias("__h_r"),
    )
    u = _hash01(id_col, salt)
    # clamp u away from {0,1}: -log(-log(u)) must stay finite
    u = F.least(F.greatest(u, F.lit(1e-15)), F.lit(1.0 - 1e-15))
    scored = (
        both.filter(F.col("__nb").isNotNull())
        .withColumn(
            "log_importance", F.col("__nb") * (F.col("__h_r") - F.col("__h_t"))
        )
        .withColumn("gumbel_key", F.col("log_importance") - F.log(-F.log(u)))
    )
    return (
        scored.orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__nb", "__h_t", "__h_r")
    )
