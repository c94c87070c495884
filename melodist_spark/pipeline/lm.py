"""N-gram language-model quality scoring (CCNet-style).

Production curation pipelines score every document against a reference
language model and drop (or down-weight) the high-perplexity tail —
the standard proxy for "not fluent prose" (gibberish, menus, code
dumps, wrong language). The full-scale version uses a pretrained
KenLM; the engine-native equivalent here is an additively-smoothed
bigram model trained with two aggregations and applied with one join,
which keeps the whole path relational:

- **train** (:func:`bigram_lm`): unigram and bigram counts over the
  reference corpus — both map-side-combinable ``groupBy().count()``
  passes over an exploded n-gram stream, so a token repeated a
  billion times costs one partial row per partition. ``min_count``
  prunes the long tail of the bigram table (the standard KenLM-style
  pruning) which bounds the model size shipped into the scoring join.
- **score** (:func:`lm_cross_entropy`): per-document cross-entropy
  H = mean over bigram instances of ``-ln P(w2|w1)`` with
  ``P(w2|w1) = (c(w1,w2) + a) / (c(w1) + a*V)`` (additive smoothing,
  vocabulary size V). Documents are reduced to DISTINCT bigrams with
  multiplicities before the model join, so the join input is bounded
  by per-doc vocabulary, not document length. Perplexity = exp(H).

The only wide operations are the two count aggregations and the
bigram equi-join; hot bigrams ("of the") are exactly the AQE
skew-join case. The vocabulary size is the single driver-side scalar
(the correct model/data boundary, as with the k-means centroids).

:func:`pmi_collocations` reuses the same n-gram streams for corpus
statistics: the top collocations (bigrams whose joint frequency beats
the independence prediction) — the standard phrase-mining /
tokenizer-diagnostics signal over a training corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def _token_array(text_col: str) -> F.Column:
    return F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)


def _ngram_stream(
    df: DataFrame, text_col: str, id_col: str | None, order: int
) -> DataFrame:
    """One row per n-gram INSTANCE (positional), as ``w1..w{order}``
    columns; ``id_col=None`` omits the id (training needs only the
    grams, so a reference corpus without document ids works)."""
    toks = _token_array(text_col)
    n = F.size(toks)
    m = F.greatest(n - (order - 1), F.lit(0))
    grams = F.arrays_zip(
        *[F.slice(toks, i + 1, m).alias(f"w{i + 1}") for i in range(order)]
    )
    cols = [F.col(id_col)] if id_col is not None else []
    names = [f"w{i + 1}" for i in range(order)]
    return df.select(*cols, F.explode(grams).alias("bg")).select(
        *[c for c in ([id_col] if id_col else [])],
        *[F.col(f"bg.{w}").alias(w) for w in names],
    )


def _bigram_stream(
    df: DataFrame, text_col: str, id_col: str | None
) -> DataFrame:
    return _ngram_stream(df, text_col, id_col, 2)


def bigram_lm(
    train_df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train: returns ``(bigram_counts(w1, w2, c12), unigram_counts
    (w1, c1))``. ``min_count`` drops bigrams rarer than the threshold
    from the model (pruning; their probability falls back to the
    smoothed unseen mass). Only ``text_col`` is required of
    ``train_df`` — an external reference corpus needs no ids."""
    big = (
        _bigram_stream(train_df, text_col, None)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    if min_count > 1:
        big = big.filter(F.col("c12") >= min_count)
    uni = _unigram_counts(train_df, text_col).withColumnRenamed("c", "c1")
    return big, uni


def ngram_lm(
    train_df: DataFrame,
    order: int,
    text_col: str = "text",
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Order-n generalization of :func:`bigram_lm`: returns
    ``(gram_counts(w1..wn, c), prefix_counts(w1..w{n-1}, cp))`` where
    the prefix counts come from the full (n-1)-gram stream (for n=2
    this is exactly the unigram table). Both are map-side-combined
    aggregations; ``min_count`` prunes the gram table only (the
    prefix table is the smaller, denominator side)."""
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    names = [f"w{i + 1}" for i in range(order)]
    gram = (
        _ngram_stream(train_df, text_col, None, order)
        .groupBy(*names)
        .agg(F.count("*").alias("c"))
    )
    if min_count > 1:
        gram = gram.filter(F.col("c") >= min_count)
    prefix = (
        _ngram_stream(train_df, text_col, None, order - 1)
        .groupBy(*names[:-1])
        .agg(F.count("*").alias("cp"))
        if order > 2
        else _unigram_counts(train_df, text_col).withColumnRenamed("c", "cp")
    )
    return gram, prefix


def lm_cross_entropy(
    df: DataFrame,
    train_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    min_count: int = 1,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Score ``df`` against a bigram LM trained on ``train_df``
    (default: ``df`` itself — self-perplexity, the repetition/fluency
    signal). Adds ``n_bigrams``, ``cross_entropy`` (nats/bigram) and
    ``perplexity``; documents with fewer than two tokens get nulls.

    ``model`` injects a pretrained ``(bigram_counts, unigram_counts)``
    pair as returned by :func:`bigram_lm` and skips training — the
    shape for scoring several corpora (or several deployment paths)
    against ONE trained model without re-running the count
    aggregations per call; ``train_df``/``min_count`` are ignored.
    """
    # distinct bigrams with multiplicity: join size is per-doc
    # vocabulary, not document length
    doc_bigrams = (
        _bigram_stream(df, text_col, id_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("k"))
    )
    # NOTE (measured, 2M docs): deriving the model's bigram counts
    # from doc_bigrams ("reuse the shuffle") is a LOSS — the per-doc
    # table is nearly as wide as the instance stream, so regrouping it
    # by bigram shuffles ~78M rows, while re-tokenizing feeds a
    # map-side-combined count from a narrow in-place pass (48-52 s vs
    # 55-66 s interleaved A/B). Train always goes through bigram_lm.
    if model is not None:
        big, uni = model
    else:
        train = df if train_df is None else train_df
        big, uni = bigram_lm(train, text_col, min_count=min_count)
    # the vocabulary size V rides along as a 1-row broadcast aggregate
    # instead of a driver-side count(): both V and the scoring join
    # consume the same unigram shuffle subtree, so ReuseExchange runs
    # the tokenize+count corpus pass ONCE — no persist, no cached
    # blocks left behind in a long-lived session, no driver action
    # count(c1 > 0), not count(*): every c1 is >= 1 so the value is V
    # either way, but a predicate on c1 is something the optimizer
    # cannot prove away, so column pruning keeps c1 in this branch's
    # partial aggregate — the two unigram subtrees stay canonically
    # identical, which is what lets the shuffle be reused (one corpus
    # scan) instead of re-run
    vsize = uni.agg(
        F.count(F.when(F.col("c1") > 0, 1)).alias("__vsize")
    )
    prob = (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("__vsize")
    )
    scored = (
        doc_bigrams.join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .join(F.broadcast(vsize))
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_bigrams"),
            (F.sum(F.col("k") * -F.log(prob)) / F.sum("k")).alias(
                "cross_entropy"
            ),
        )
        .withColumn("perplexity", F.exp("cross_entropy"))
    )
    return df.join(scored, id_col, "left")


def _mix(h1, h2):
    """Combine two uint64 token hashes into one n-gram key
    (golden-ratio multiply-add, wrapping) — used identically on the
    driver (model keys) and in the scoring kernels (query keys)."""
    import numpy as np

    with np.errstate(over="ignore"):
        return h1 * np.uint64(0x9E3779B97F4A7C15) + h2


def _unigram_counts(train_df: DataFrame, text_col: str) -> DataFrame:
    """Map-side-combined unigram count table ``(w1, c)`` — the shared
    tokenize+count pass every trainer in this module builds on."""
    return (
        train_df.select(F.explode(_token_array(text_col)).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c"))
    )


def _hash_tokens(s) -> "object":
    """Deterministic cross-process uint64 hash of a string Series
    (pd.util.hash_array, fixed default key)."""
    import pandas as pd

    return pd.util.hash_array(s.to_numpy(dtype=object))


def _fold_keys(pdf, ncols: int):
    """n-gram keys for a ``w1..w{ncols}`` count table: per-token
    hashes folded with :func:`_mix`. MUST stay the exact scheme the
    scoring kernels apply to query positions — model and query keys
    agree bit-for-bit or every lookup silently misses."""
    import numpy as np

    if not len(pdf):
        return np.empty(0, dtype=np.uint64)
    key = _hash_tokens(pdf["w1"])
    for i in range(1, ncols):
        key = _mix(key, _hash_tokens(pdf[f"w{i + 1}"]))
    return key


def _sorted_table(keys, counts):
    """(sorted uint64 keys, aligned float64 counts) — the broadcast
    model representation (~16 B/row per worker)."""
    import numpy as np

    order = np.argsort(keys, kind="stable")
    return keys[order], counts.to_numpy("float64")[order]


def _lookup_sorted(q, table):
    """Vectorized count lookup of query keys in a sorted table;
    misses return 0."""
    import numpy as np

    hk, c = table
    out = np.zeros(len(q), np.float64)
    if len(hk):
        idx = np.searchsorted(hk, q)
        idx_c = np.minimum(idx, len(hk) - 1)
        hit = (idx < len(hk)) & (hk[idx_c] == q)
        out[hit] = c[idx_c[hit]]
    return out


def _arrow_token_lists(texts):
    """Arrow-native mirror of :func:`_token_array` (trim → lower →
    split on ``\\s+``), all C-side — no per-token Python objects
    until hashing:

    - Spark ``trim`` strips 0x20 (space) only →
      ``pc.utf8_trim(arr, ' ')``;
    - Java regex ``\\s`` is the ASCII class ``[ \\t\\n\\x0B\\f\\r]``;
      RE2's ``\\s`` is ``[ \\t\\n\\f\\r]`` — missing U+000B (vertical
      tab), so VT is normalized to ``\\n`` BEFORE the split (VT is
      never token content on the JVM side either, so the streams
      agree);
    - both splits keep leading/trailing empty fields.

    ``utf8_lower`` parity with JVM ``lower`` holds for ASCII and the
    common Unicode simple case mappings.

    Returns a ``pyarrow.ListArray`` of tokens (null in → null out).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts, type=pa.string())
    arr = pc.replace_substring(arr, "\x0b", "\n")
    return pc.split_pattern_regex(
        pc.utf8_lower(pc.utf8_trim(arr, " ")), r"\s+"
    )


def _broadcast_model_tables(
    train: DataFrame,
    text_col: str,
    min_count: int,
    order: int,
    model: tuple[DataFrame, DataFrame] | None = None,
):
    """Driver-side model prep shared by the broadcast scorers: train
    (or accept injected) count tables and fold them into the
    ``((sorted gram keys, counts), (sorted prefix keys, counts),
    vocab_size)`` broadcast representation.

    Model representation: (sorted uint64 key-hash, count) array
    pairs, not a dict — ~16 B/entry per worker instead of ~170 B,
    pickles compactly, and lookup is one vectorized searchsorted per
    batch. Keys are hashed PER TOKEN (pd.util.hash_array —
    deterministic across processes, fixed default hash key) and a
    bigram key is the golden-ratio mix of its two token hashes, so
    the scoring kernel never materializes a per-bigram Python
    string. A 64-bit collision between two model keys would merge
    their counts (P ≈ n²/2⁶⁵ — ~1e-5 at 14 M pruned bigrams, zero
    observed at test scales).
    """
    if model is not None:
        if order != 2:
            raise ValueError(
                "model= injection requires order=2 (bigram_lm tables)"
            )
        big_pdf = model[0].toPandas()
        uni_pdf = model[1].toPandas()
    else:
        gram, prefix = ngram_lm(train, order, text_col, min_count=min_count)
        big_pdf = gram.toPandas().rename(columns={"c": "c12"})
        uni_pdf = prefix.toPandas().rename(columns={"cp": "c1"})
    # smoothing vocabulary = distinct unigrams (== the prefix table
    # for order 2; one extra tiny distinct-count for higher orders)
    if order == 2:
        vocab_size = len(uni_pdf)
    else:
        vocab_size = (
            train.select(F.explode(_token_array(text_col)).alias("w"))
            .agg(F.count_distinct("w"))
            .collect()[0][0]
        )
    return (
        _sorted_table(_fold_keys(big_pdf, order), big_pdf["c12"]),
        _sorted_table(_fold_keys(uni_pdf, order - 1), uni_pdf["c1"]),
        vocab_size,
    )


def lm_cross_entropy_broadcast(
    df: DataFrame,
    train_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    min_count: int = 1,
    order: int = 2,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Same scores as :func:`lm_cross_entropy`, but with the model
    BROADCAST and scoring fully map-side: the corpus is scanned once
    and never shuffled.

    ``model`` injects the pretrained ``(bigram_counts, unigram_counts)``
    pair of :func:`bigram_lm` (order 2 only — :func:`ngram_lm` tables
    carry different column names) and skips training; the collect
    then reads the caller's materialized tables instead of re-running
    the count aggregations.

    This is the 100 TB shape whenever the pruned model fits executor
    memory (a ``min_count``-pruned bigram table over a bounded
    vocabulary — the KenLM-analog deployment): training is still the
    two map-side-combined count aggregations, but instead of joining
    a corpus-sized per-doc bigram table against the model (one wide
    shuffle of ~tokens rows + a groupBy(doc) re-aggregation), the
    model ships to the workers once as a broadcast dict and every
    document is scored inside one ``mapInPandas`` pass — zero wide
    operations over the corpus. The model rides as sorted
    (uint64 hash, count) arrays — ~16 B/row per worker; rule of
    thumb: 100 M pruned bigrams ≈ 1.6 GB, fine; beyond ~1 G rows,
    fall back to the relational join, which AQE skew-handles.

    Measured decision boundary (2 M × 40-token docs, local[32]):
    with a pretrained bounded model (100 k-doc reference slice,
    min_count=2) this path scores the corpus in ~17 s steady-state
    vs ~34-58 s for the relational join; but SELF-trained on the
    same high-entropy corpus (20 M distinct bigrams ≈ corpus/4) the
    model collect+hash dominates (~90 s driver-side) and the
    relational join wins. Broadcast when the model is meaningfully
    smaller than the corpus; join otherwise.

    The driver round-trip is the pruned model (the model/data
    boundary, same as the k-means centroids); tokenization parity
    with the JVM path is pinned by ``_arrow_token_lists`` and the
    path-equivalence test.

    ``order`` generalizes the model to order-n (KenLM deployments are
    typically 5-gram): gram keys are the hash-fold of n token hashes,
    the denominator is the (n-1)-gram prefix count, and the smoothing
    vocabulary stays the distinct-unigram count. ``n_bigrams`` then
    holds the n-gram instance count (column name kept for API
    stability); the relational :func:`lm_cross_entropy` remains the
    order-2 reference implementation.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    spark = df.sparkSession
    train = df if train_df is None else train_df
    model = _broadcast_model_tables(
        train, text_col, min_count=min_count, order=order, model=model
    )
    bc = spark.sparkContext.broadcast(model)
    a = float(alpha)
    ord_n_b = int(order)

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("n_bigrams", LongType()),
            StructField("cross_entropy", DoubleType()),
            StructField("perplexity", DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        (big_hk, big_c), (uni_hk, uni_c), v = bc.value
        av = float(a)
        denom_unseen = av * v
        ord_n = ord_n_b

        for pdf in batches:
            n = len(pdf)
            n_big = np.zeros(n, dtype=np.float64)
            h = np.full(n, np.nan)
            # C-side tokenize (trim→lower→regex split), then hash the
            # flat token stream once — no per-token Python objects
            # besides the hash_array input conversion
            lists = _arrow_token_lists(pdf[text_col])
            lens = lists.value_lengths().to_numpy(zero_copy_only=False)
            lens = np.nan_to_num(lens.astype(np.float64), nan=0.0).astype(
                np.int64
            )
            flat = lists.flatten().to_numpy(zero_copy_only=False)
            if len(flat):
                th = pd.util.hash_array(flat)
                ends = np.cumsum(lens)
                doc_of = np.repeat(np.arange(n), lens)
                pos = np.arange(len(flat))
                # positions that start a full n-gram within their doc
                is_start = pos + (ord_n - 1) < ends[doc_of]
                starts = np.flatnonzero(is_start)
                gram_key = th[starts]
                for i in range(1, ord_n):
                    gram_key = _mix(gram_key, th[starts + i])
                prefix_key = th[starts]
                for i in range(1, ord_n - 1):
                    prefix_key = _mix(prefix_key, th[starts + i])
                c12 = _lookup_sorted(gram_key, (big_hk, big_c))
                c1 = _lookup_sorted(prefix_key, (uni_hk, uni_c))
                nll = -np.log((c12 + av) / (c1 + denom_unseen))
                nb = np.maximum(lens - (ord_n - 1), 0)
                offsets = np.concatenate([[0], np.cumsum(nb)])
                sums = np.add.reduceat(
                    np.concatenate([nll, [0.0]]), offsets[:-1]
                )
                has = nb > 0
                # reduceat quirk: offsets[i] == offsets[i+1] yields the
                # element AT the offset, not 0 — mask those rows out
                n_big[has] = nb[has]
                h[has] = sums[has] / nb[has]
            res = pdf.copy()
            res["n_bigrams"] = pd.array(
                np.where(n_big > 0, n_big, np.nan), dtype="Int64"
            )
            # nullable Float64 so no-bigram rows surface as NULL (join
            # semantics of the relational path), not NaN
            res["cross_entropy"] = pd.array(h, dtype="Float64")
            res["perplexity"] = pd.array(np.exp(h), dtype="Float64")
            yield res

    return df.mapInPandas(score, out_schema)


def lm_cross_entropy_broadcast_multi(
    df: DataFrame,
    trains: "list[DataFrame]",
    suffixes: "list[str]",
    text_col: str = "text",
    alpha: float = 0.4,
    min_count: int = 1,
    order: int = 2,
) -> DataFrame:
    """Score every document under SEVERAL broadcast n-gram models in
    ONE ``mapInPandas`` pass: the corpus is shipped through Arrow,
    tokenized and hashed once, and each model then costs only its two
    vectorized sorted-table lookups over the shared key stream.

    Per-model semantics and arithmetic are exactly
    :func:`lm_cross_entropy_broadcast` (same training aggregations,
    same smoothing, same fold/lookup order — the ``cross_entropy``
    values agree bit-for-bit with the single-model scorer, pinned by
    test). The output carries ``n_bigrams`` ONCE (it is a property of
    the document, not of any model) plus one
    ``cross_entropy<suffix>`` column per model. All models share one
    ``order``.

    The motivating caller is DSIR importance resampling, which needs
    H_raw and H_target for every document: chaining two single-model
    scorers ships the corpus through the Python boundary twice and
    repeats the C-side tokenize+hash for an identical token stream —
    at corpus scale a full duplicated scan-side pass per extra model.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if len(trains) != len(suffixes):
        raise ValueError("trains and suffixes must have equal length")
    if len(set(suffixes)) != len(suffixes):
        raise ValueError(f"suffixes must be distinct, got {suffixes}")

    spark = df.sparkSession
    models = [
        _broadcast_model_tables(t, text_col, min_count=min_count, order=order)
        for t in trains
    ]
    bc = spark.sparkContext.broadcast(models)
    a = float(alpha)
    ord_n_b = int(order)
    out_cols = [f"cross_entropy{sfx}" for sfx in suffixes]

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("n_bigrams", LongType())]
        + [StructField(c, DoubleType()) for c in out_cols]
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        mods = bc.value
        av = float(a)
        ord_n = ord_n_b

        for pdf in batches:
            n = len(pdf)
            n_big = np.zeros(n, dtype=np.float64)
            hs = [np.full(n, np.nan) for _ in mods]
            # C-side tokenize (trim→lower→regex split), then hash the
            # flat token stream ONCE — shared by every model's lookups
            lists = _arrow_token_lists(pdf[text_col])
            lens = lists.value_lengths().to_numpy(zero_copy_only=False)
            lens = np.nan_to_num(lens.astype(np.float64), nan=0.0).astype(
                np.int64
            )
            flat = lists.flatten().to_numpy(zero_copy_only=False)
            if len(flat):
                th = pd.util.hash_array(flat)
                ends = np.cumsum(lens)
                doc_of = np.repeat(np.arange(n), lens)
                pos = np.arange(len(flat))
                # positions that start a full n-gram within their doc
                is_start = pos + (ord_n - 1) < ends[doc_of]
                starts = np.flatnonzero(is_start)
                gram_key = th[starts]
                for i in range(1, ord_n):
                    gram_key = _mix(gram_key, th[starts + i])
                prefix_key = th[starts]
                for i in range(1, ord_n - 1):
                    prefix_key = _mix(prefix_key, th[starts + i])
                nb = np.maximum(lens - (ord_n - 1), 0)
                offsets = np.concatenate([[0], np.cumsum(nb)])
                has = nb > 0
                n_big[has] = nb[has]
                for h, ((big_hk, big_c), (uni_hk, uni_c), v) in zip(hs, mods):
                    c12 = _lookup_sorted(gram_key, (big_hk, big_c))
                    c1 = _lookup_sorted(prefix_key, (uni_hk, uni_c))
                    nll = -np.log((c12 + av) / (c1 + av * v))
                    sums = np.add.reduceat(
                        np.concatenate([nll, [0.0]]), offsets[:-1]
                    )
                    # reduceat quirk: offsets[i] == offsets[i+1] yields
                    # the element AT the offset, not 0 — mask those out
                    h[has] = sums[has] / nb[has]
            res = pdf.copy()
            res["n_bigrams"] = pd.array(
                np.where(n_big > 0, n_big, np.nan), dtype="Int64"
            )
            # nullable Float64 so no-bigram rows surface as NULL (join
            # semantics of the relational path), not NaN
            for col, h in zip(out_cols, hs):
                res[col] = pd.array(h, dtype="Float64")
            yield res

    return df.mapInPandas(score, out_schema)


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Top-``top_k`` collocations by pointwise mutual information.

    PMI(w1, w2) = ln( P(w1,w2) / (P(w1) * P(w2)) ) with
    P(w1,w2) = c12 / N_bigrams and P(w) = c / N_unigrams — the
    standard phrase-mining statistic over a training corpus (which
    multiword units should the tokenizer keep together; which
    boilerplate n-grams dominate the crawl).

    Scale shape: exactly three corpus passes — one bigram count and
    one unigram count (both map-side-combined aggregations over
    narrow exploded streams, the :func:`bigram_lm` cost class) plus
    one join-free ``size()`` pass for the instance totals (per doc,
    bigrams = max(tokens-1, 0), so neither total needs a second
    aggregation over the exploded streams). The unigram table is
    vocabulary-bounded and broadcast into both probability joins;
    both broadcasts hang off the same unigram shuffle subtree, so
    ReuseExchange runs its corpus scan once — no persist, so a
    long-lived session accumulates no cached blocks across calls.
    ``min_count`` is applied to c12 before the joins (rare-pair PMI
    is noise AND pruning bounds the sort input); the final top-k is
    a sink-side ``ORDER BY pmi DESC LIMIT k`` with a deterministic
    (w1, w2) tie-break. Totals ride along as a 1-row broadcast
    cross join (no driver action).
    """
    n_toks = F.size(_token_array(text_col))
    totals = df.agg(
        F.sum(F.greatest(n_toks - 1, F.lit(0))).alias("n_big"),
        F.sum(n_toks).alias("n_uni"),
    )
    toks = df.select(_token_array(text_col).alias("w"))
    uni = (
        toks.select(F.explode("w").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
        # no persist: uni2 below projects off this same aggregate, so
        # both broadcast builds share one shuffle via ReuseExchange
    )
    big = (
        _bigram_stream(df, text_col, None)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    pruned = big.filter(F.col("c12") >= min_count)
    uni2 = uni.select(F.col("w1").alias("w2"), F.col("c1").alias("c2"))
    pmi = F.log(
        (F.col("c12") / F.col("n_big"))
        / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
    )
    return (
        pruned.join(F.broadcast(uni), "w1")
        .join(F.broadcast(uni2), "w2")
        .join(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )
