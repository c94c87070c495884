"""Regenerate ``melodist_spark/pipeline/pinned.py`` — the pinned
model literals behind the apply-only registry rows.

Round-6 design (VERDICT item 1): the iterative trainers (Lloyd, PQ
Lloyd, IRLS) have no SQL oracle, but their APPLY side is a pure
function of (data, model). Pinning the trained models as literals
splits each op into pinned-train (pytest: this generator's output
must match a fresh training run — see
tests/test_pipeline_ops.py::test_pinned_models_match_fresh_training)
+ oracle-checked apply (the registry rows score with the literals,
and the DuckDB oracle evaluates the same literal-weighted
expressions), so the correctness gate hash-verifies the deployment
path of every ANN / classifier op.

Training corpus: /root/testdata/sf0.001 (the tests' fixture scale) —
a model is trained once and applied to any corpus, so the registry
rows at sf0.01/sf0.1 exercise exactly the deployment shape.

Usage: python tools/gen_pinned.py   (writes the module in place)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "melodist_spark", "pipeline", "pinned.py",
)


def fmt(a, indent):
    """Nested-list literal with full round-trip float precision."""
    import numpy as np

    if isinstance(a, np.ndarray) and a.ndim > 1:
        inner = ",\n".join(
            " " * (indent + 4) + fmt(row, indent + 4) for row in a
        )
        return "[\n" + inner + ",\n" + " " * indent + "]"
    return "[" + ", ".join(repr(float(v)) for v in a) + "]"


def bc_fit_input(spark, sf_dir=SF_DIR):
    """Input frame for the GLOBAL Bristow-Campbell (A, C) fit: the
    per-date FLEET-MEAN daily climatology (every met station shares
    LON/LAT/TZ, so pot_rad_daily is common per date). Pooling to one
    deterministic pseudo-station makes the fit well-defined across
    scale factors — station sets differ per SF (15/150/1500), so
    per-station pins would not transfer; a fleet-level (A, C) applies
    to any fleet. All means use exact decimal sums so the fit input
    (hence the pinned literals) is bit-stable under any partition
    order; the zero-bias least-squares fit sums each group's days in
    date order, so it is deterministic given its input."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from melodist_spark.functions.solar import potential_radiation
    from melodist_spark.util.calendar import hourly_calendar

    daily = entry._met_daily(spark, sf_dir)

    def davg(c):
        return F.sum(F.col(c).cast("decimal(25,10)")).cast("double") / F.count("*")

    pooled = daily.groupBy("date").agg(
        davg("tmin").alias("tmin"),
        davg("tmax").alias("tmax"),
        davg("glob").alias("obs_rad_daily"),
    )
    h = hourly_calendar(
        pooled.select(F.lit(0).alias("g"), "date"), date_col="date", ts_col="ts"
    ).withColumn(
        "pr",
        potential_radiation(
            F.col("ts"), F.lit(entry.LON), F.lit(entry.LAT), F.lit(entry.TZ)
        ),
    )
    potd = h.groupBy("date").agg(
        (
            F.sum(F.col("pr").cast("decimal(25,10)")).cast("double") / F.count("*")
        ).alias("pot_rad_daily")
    )
    return pooled.join(potd, "date").withColumn("g", F.lit(0))


def main():
    from pyspark.sql import functions as F

    from melodist_spark.operators.radiation import fit_bristow_campbell_params
    from melodist_spark.pipeline.classifier import logreg_train
    from melodist_spark.pipeline.similarity import (
        train_kmeans_centroids,
        train_pq_codebooks,
    )
    from melodist_spark.pipeline.text import quality_features
    from melodist_spark.session import get_spark

    spark = get_spark("gen_pinned")
    spark.sparkContext.setLogLevel("ERROR")

    bc = fit_bristow_campbell_params(bc_fit_input(spark), keys=["g"]).collect()[0]

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = train_pq_codebooks(emb, dim=64, m=8, ksub=32)
    cents = train_kmeans_centroids(emb, k=8, dim=64)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feats = quality_features(docs).na.fill(0.0).withColumn(
        "label", (F.col("lang") == "en").cast("double")
    )
    cols = ["n_tokens", "mean_word_len", "stopword_ratio", "punct_ratio"]
    model = logreg_train(feats, cols, "label", iters=6)

    # round 11: pin the trained tokenizer models so their APPLY paths
    # (greedy merge / Viterbi over a fixed model — pure functions)
    # move under the DuckDB oracle as the tokenize_apply registry row;
    # both trainers are partitioning-independent by contract, so the
    # pin test re-trains and asserts exact equality
    from melodist_spark.pipeline.bpe import bpe_train
    from melodist_spark.pipeline.unigram import unigram_train

    merges = bpe_train(docs, num_merges=200, min_count=2)
    upieces = unigram_train(docs, vocab_size=400, min_count=2)
    merges_lit = "[\n" + "".join(
        f"    ({a!r}, {b!r}),\n" for a, b in merges
    ) + "]"
    pieces_lit = "{\n" + "".join(
        f"    {p!r}: {lp!r},\n" for p, lp in sorted(upieces.items())
    ) + "}"

    body = f'''"""Pinned model literals for the apply-only registry rows.

GENERATED by tools/gen_pinned.py — do not edit by hand; re-run the
generator after changing any trainer. Trained on {SF_DIR}
(see the generator's module docstring for why the train/apply split
exists). tests/test_pipeline_ops.py::test_pinned_models_match_fresh_training
re-trains and asserts equality, so a trainer change that silently
shifts the learned models fails tests instead of the correctness
gate.
"""

import numpy as np

# train_pq_codebooks(embeddings, dim=64, m=8, ksub=32) -> (8, 32, 8)
PQ_CODEBOOKS = np.array({fmt(books, 0)})

# train_kmeans_centroids(embeddings, k=8, dim=64) -> (8, 64)
IVF_CENTROIDS = np.array({fmt(cents, 0)})

# logreg_train(quality_features(documents), iters=6) on the
# lang=='en' labels; weights live in STANDARDIZED feature space
LOGREG_MODEL = {{
    "feature_cols": {model["feature_cols"]!r},
    "intercept": {model["intercept"]!r},
    "weights": np.array({fmt(model["weights"], 4)}),
    "mu": np.array({fmt(model["mu"], 4)}),
    "sd": np.array({fmt(model["sd"], 4)}),
}}

# fit_bristow_campbell_params on the per-date fleet-mean daily frame
# (tools/gen_pinned.bc_fit_input) — the global (A, C) applied by the
# radiation_proxy_variants 'bc_fitted' branch; the fit itself stays
# pytest-pinned
# (test_pinned_models_match_fresh_training re-fits and asserts these)
BC_FITTED = {{"a": {bc["a"]!r}, "c": {bc["c"]!r}}}

# bpe_train(documents, num_merges=200, min_count=2) — the ordered
# merge table; applied by the tokenize_apply 'bpe' branch (greedy
# lowest-rank merge is a pure function of (text, table), replayed by
# the oracle's recursive CTE)
BPE_MERGES = {merges_lit}

# unigram_train(documents, vocab_size=400, min_count=2) — piece
# log-probabilities; applied by the tokenize_apply 'unigram' branch
# (Viterbi over a fixed table, replayed by the oracle's recursive DP)
UNIGRAM_PIECES = {pieces_lit}
'''
    with open(OUT, "w") as f:
        f.write(body)
    print(f"wrote {OUT}: books{books.shape} cents{cents.shape} "
          f"weights={model['weights']!r} intercept={model['intercept']!r}")


if __name__ == "__main__":
    main()
