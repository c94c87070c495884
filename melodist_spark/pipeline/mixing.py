"""Deterministic training-mixture construction.

The step between curation and packing in every large pretraining
pipeline (The Pile / GPT-3 table 2.2 / Llama): given curated sources
and target mixture weights, draw a corpus where source ``s``
contributes ``w_s / sum(w) * n_total`` documents — REPEATING a small
high-quality source across epochs when its target exceeds its size
(the published mixtures upsample Wikipedia/books multiple epochs per
training run) and hash-sampling the fractional remainder.

Scale shape: everything is a column expression on each source scan —
the epoch fan-out is one ``explode(sequence(...))`` (narrow, the
intended multiplication), the fractional draw is an md5-derived
uniform in [0,1) (deterministic in (seed, source, id): same draw on
any cluster layout, any partitioning, any engine that can md5), and
the union is ``unionByName``. No shuffle anywhere; a 100 TB mixture
is a union of filtered scans.

Source sizes: pass ``sizes`` when known (catalog/manifest counts —
the normal case at scale); otherwise one ``count()`` action per
source runs up front.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util.rng import counter_key, sql_string, uniform

__all__ = ["weighted_mixture", "mixture_audit", "temperature_weights"]


def weighted_mixture(
    sources: dict[str, DataFrame],
    weights: dict[str, float],
    n_total: int,
    id_col: str = "doc_id",
    seed: int = 0,
    sizes: dict[str, int] | None = None,
) -> DataFrame:
    """Union of per-source draws hitting the target mixture.

    Source ``s`` with weight share ``p_s = w_s / sum(w)`` targets
    ``p_s * n_total`` documents: ``floor(target / |s|)`` FULL epochs
    (every doc repeated, ``epoch`` = 0..k-1) plus one partial epoch
    drawn as ``u(seed, s, id) < frac`` — so the achieved count is
    exact on the full epochs and binomial(|s|, frac) on the last one
    (tight at corpus sizes; the audit reports achieved vs target).

    Adds ``source`` (the dict key) and ``epoch`` columns; all input
    columns pass through (sources must share a schema — align
    upstream). Deterministic in (seed, source, id): immune to
    partitioning, cluster size, and row order, and re-runnable —
    the properties a reproducible training run needs.

    TOKEN-WEIGHTED mixtures (how the published tables are actually
    specified — Pile table 1 / Llama weigh sources by tokens, not
    documents): pass ``sizes`` as per-source TOKEN totals and
    ``n_total`` as the token budget. The arithmetic is unit-agnostic
    — ``floor(target / S_s)`` full epochs repeat every document
    (exactly ``S_s`` tokens each), and the fractional draw keeps each
    doc with probability ``frac`` independently of its length, so the
    partial epoch contributes ``frac * S_s`` tokens in expectation
    with relative error O(1/sqrt(docs drawn)) (token counts and the
    md5 draw are independent). The docs-weighted form is the
    ``sizes = |s|`` special case. Pinned by
    ``test_weighted_mixture_token_budget``.

    The epochs of the source's IEEE floor(target/size) are computed
    with :func:`math.floor` of the double quotient — the definition
    every SQL engine's ``floor(a/b)`` computes — so the draw replays
    identically on any engine (the ``weighted_mixture`` registry
    row's DuckDB twin hash-checks every (doc_id, source, epoch) row).

    STREAMING: with ``sizes`` provided (the catalog counts — on a
    stream they must be, since ``count()`` is an action) the whole
    op is filters + a narrow explode + union, all streaming-safe —
    mixture construction can run AT INGEST, and determinism in
    (seed, source, id) means the streamed draw is the same multiset
    a batch run produces (availableNow parity pinned by
    ``test_weighted_mixture_streaming_compose``).
    """
    if set(sources) != set(weights):
        raise ValueError("sources and weights must have the same keys")
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative and non-empty")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")

    if sizes is None:
        sizes = {name: df.count() for name, df in sources.items()}

    parts = []
    for name, df in sources.items():
        n_s = int(sizes[name])
        if n_s <= 0:
            continue
        target = weights[name] / wsum * n_total
        # floor of the IEEE quotient — NOT Python's fmod-based `//`,
        # which can disagree with floor(a/b) by 1 on results that
        # round up to an exact integer (9.9 // 3.3 == 2.0 while
        # floor(9.9 / 3.3) == 3). floor(a/b) is what every SQL engine
        # computes, and the draw must be engine-portable.
        full = int(math.floor(target / n_s))
        frac = (target - full * n_s) / n_s
        # uniform keyed by (seed, source name, id)
        u = F.expr(uniform(counter_key(seed, sql_string(name), f"`{id_col}`")))
        # epochs 0..full-1 unconditionally, epoch `full` iff u < frac:
        # one sequence per row, length full or full+1 — the narrow
        # fan-out IS the intended upsampling
        n_epochs = F.lit(full) + (u < F.lit(frac)).cast("int")
        # sequence(1, 0) DESCENDS in Spark ([1, 0]) — an undrawn doc
        # must produce an empty array (explode then emits no row)
        eps = F.when(
            n_epochs >= 1, F.sequence(F.lit(1), n_epochs)
        ).otherwise(F.array().cast("array<int>"))
        part = (
            df.withColumn("__ep", F.explode(eps))
            .withColumn("source", F.lit(name))
            .withColumn("epoch", F.col("__ep") - 1)
            .drop("__ep")
        )
        parts.append(part)
    if not parts:
        raise ValueError("no non-empty source contributes to the mixture")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def mixture_audit(
    mixture: DataFrame, weights: dict[str, float] | None = None
) -> DataFrame:
    """Achieved per-source composition of a :func:`weighted_mixture`
    output: rows ``(source, n_docs, n_epochs, fraction)`` (one tiny
    aggregate; the only shuffle in the module, over |sources|
    groups).

    Pass the SAME ``weights`` given to :func:`weighted_mixture` to
    get the comparison columns the audit exists for:
    ``target_fraction`` (the normalized requested share) and
    ``rel_error`` (``fraction / target_fraction - 1``) — at corpus
    sizes the binomial partial-epoch draw concentrates |rel_error|
    to O(1/sqrt(n)), so anything beyond a fraction of a percent
    means the weights, sizes, or n_total were mis-specified, not
    draw noise. A source requested but ABSENT from the mixture
    (empty input, or weight so small nothing drew) still gets a row
    with ``n_docs = 0``.
    """
    agg = mixture.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (F.max("epoch") + 1).alias("n_epochs"),
    )
    from pyspark.sql.window import Window

    out = agg.withColumn(
        "fraction",
        F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy()),
    )
    if weights is None:
        return out
    wsum = float(sum(weights.values()))
    if not weights or wsum <= 0:
        raise ValueError("weights must be non-empty with a positive sum")
    spark = mixture.sparkSession
    wdf = spark.createDataFrame(
        [(name, w / wsum) for name, w in weights.items()],
        "source string, target_fraction double",
    )
    return (
        wdf.join(out, "source", "left")
        .select(
            "source",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_epochs", F.lit(0)).alias("n_epochs"),
            F.coalesce("fraction", F.lit(0.0)).alias("fraction"),
            "target_fraction",
            F.when(
                F.col("target_fraction") > 0,
                F.coalesce("fraction", F.lit(0.0)) / F.col("target_fraction")
                - 1.0,
            ).alias("rel_error"),  # null for a zero-weight source
        )
    )


def temperature_weights(
    sizes: dict[str, int], alpha: float = 0.3
) -> dict[str, float]:
    """Temperature-flattened mixture weights from source sizes — the
    multilingual-pretraining sampling law (mT5 / XLM-R: sample source
    ``s`` with probability ``p_s ∝ |s|^alpha``). ``alpha = 1``
    reproduces proportional-to-size sampling (no reweighting),
    ``alpha → 0`` approaches uniform over sources, and the published
    sweet spots (mT5 uses 0.3, XLM-R 0.3/0.7) sit between: low-resource
    sources are upsampled ORDERS of magnitude less than uniform would,
    high-resource ones are tempered rather than truncated.

    Returns normalized weights (sum 1) for :func:`weighted_mixture` —
    the composition is ``weighted_mixture(sources,
    temperature_weights(sizes, alpha), n_total, sizes=sizes)``, which
    keeps the whole pipeline driver-side-arithmetic + filtered scans:
    sizes come from the catalog/manifest, the exponent is a few driver
    floats, and the draw stays the md5-uniform. Pure function of
    (sizes, alpha) — deterministic, engine-portable by construction.
    """
    if not sizes:
        raise ValueError("sizes must be non-empty")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    bad = {k: v for k, v in sizes.items() if v < 0}
    if bad:
        raise ValueError(f"negative source sizes: {bad}")
    raw = {name: float(n) ** alpha if n > 0 else 0.0
           for name, n in sizes.items()}
    total = sum(raw.values())
    if total <= 0:
        raise ValueError("all sources are empty; no mixture to weight")
    return {name: v / total for name, v in raw.items()}
