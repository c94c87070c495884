"""Unigram-LM tokenizer training and application (Kudo 2018 — the
SentencePiece default algorithm; the other real-world subword family
next to BPE).

Where BPE GROWS a vocabulary bottom-up by merging, the unigram model
SHRINKS one top-down: seed a large candidate piece inventory, fit
piece probabilities by EM over each word's segmentation lattice
(forward-backward — every segmentation contributes, weighted by its
probability), then prune the least-useful pieces and re-fit until the
target vocabulary size is reached. Encoding is Viterbi: the single
highest-probability segmentation per word.

Scale decomposition — identical boundaries to ``bpe.py`` (the model/
data split the k-means centroids and broadcast LMs use):

- **corpus → word counts**: the only corpus-sized operation, shared
  with BPE (:func:`bpe.word_counts` — one map-side-combined groupBy;
  ``min_count`` prunes the hapax tail that would otherwise drag a
  crawl's 10^8 distinct typo-words onto the driver).
- **word counts → piece table** (:func:`unigram_train`): EM over the
  word-frequency table is inherently iterative (round k's expected
  counts depend on round k-1's probabilities) and runs on the driver
  — the vocabulary-bounded model boundary, same as the BPE merge
  loop; pytest-pinned rather than SQL-oracled for the same reason.
- **piece table → tokens** (:func:`unigram_tokenize`): the piece
  log-probability table (≤ vocab_size rows) broadcasts; one
  ``mapInPandas`` pass Viterbi-encodes with a per-worker word→pieces
  cache. Zero shuffle, corpus scanned once.

Pruning follows the widely-used expected-count criterion (drop the
pieces the fitted model uses least, never single characters), a
documented simplification of Kudo's exact loss-delta prune — the two
differ only in the ranking of rare pieces near the cut, and the kept
single-character floor guarantees every trained word stays
segmentable either way.

Determinism: seed selection, EM iteration order, pruning order and
all tie-breaks are pinned (sorted pieces, score-then-lexicographic),
so the learned model is independent of partitioning and dict order —
the same contract as ``bpe_train``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from .bpe import _JAVA_WS, word_counts

__all__ = [
    "unigram_seed_vocab",
    "unigram_train_from_counts",
    "unigram_train",
    "unigram_tokenize",
    "pieces_to_df",
    "viterbi_segment",
]

#: log-probability assigned to an out-of-alphabet character at encode
#: time (SentencePiece's unk handling: the character passes through as
#: its own piece, heavily penalized so it never beats a real piece)
UNK_LOGP = -100.0


def unigram_seed_vocab(
    wc: "list[tuple[str, int]]",
    seed_size: int = 2000,
    max_piece_len: int = 8,
) -> dict[str, float]:
    """Candidate piece inventory from a (word, freq) table: every
    substring up to ``max_piece_len`` chars, scored by
    ``occurrences * len`` (frequent LONG pieces are the valuable
    ones); the top ``seed_size`` survive, plus every single character
    unconditionally (the segmentability floor). Returns initial piece
    log-probs proportional to occurrence counts."""
    counts: dict[str, int] = {}
    for w, f in wc:
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(i + max_piece_len, L) + 1):
                p = w[i:j]
                counts[p] = counts.get(p, 0) + f
    chars = {p for p in counts if len(p) == 1}
    multi = sorted(
        (p for p in counts if len(p) > 1),
        key=lambda p: (-counts[p] * len(p), p),
    )
    keep = chars | set(multi[: max(0, seed_size - len(chars))])
    total = float(sum(counts[p] for p in keep))
    return {p: math.log(counts[p] / total) for p in sorted(keep)}


def _forward_backward(
    word: str, logp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Expected piece counts for ONE word under the current model,
    plus the word's total log-likelihood (sum over ALL segmentations).
    Standard lattice forward-backward in log domain."""
    L = len(word)
    NEG = -1e30
    alpha = [NEG] * (L + 1)
    alpha[0] = 0.0
    for j in range(1, L + 1):
        acc = NEG
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None or alpha[i] <= NEG / 2:
                continue
            x = alpha[i] + lp
            acc = x if acc == NEG else (
                max(acc, x) + math.log1p(math.exp(-abs(acc - x)))
            )
        alpha[j] = acc
    if alpha[L] <= NEG / 2:
        return {}, NEG  # unsegmentable under this model
    beta = [NEG] * (L + 1)
    beta[L] = 0.0
    for i in range(L - 1, -1, -1):
        acc = NEG
        for j in range(i + 1, min(i + max_len, L) + 1):
            lp = logp.get(word[i:j])
            if lp is None or beta[j] <= NEG / 2:
                continue
            x = lp + beta[j]
            acc = x if acc == NEG else (
                max(acc, x) + math.log1p(math.exp(-abs(acc - x)))
            )
        beta[i] = acc
    z = alpha[L]
    exp: dict[str, float] = {}
    for i in range(L):
        if alpha[i] <= NEG / 2:
            continue
        for j in range(i + 1, min(i + max_len, L) + 1):
            p = word[i:j]
            lp = logp.get(p)
            if lp is None or beta[j] <= NEG / 2:
                continue
            g = math.exp(alpha[i] + lp + beta[j] - z)
            if g > 0.0:
                exp[p] = exp.get(p, 0.0) + g
    return exp, z


def unigram_train_from_counts(
    wc: "list[tuple[str, int]]",
    vocab_size: int = 400,
    seed_size: int = 2000,
    max_piece_len: int = 8,
    n_em_iters: int = 2,
    prune_factor: float = 0.75,
) -> dict[str, float]:
    """Driver-side Unigram-LM training over a (word, freq) list.
    Returns the final piece → log-probability table (normalized).
    Pure deterministic function of its input.

    Each round: ``n_em_iters`` EM sweeps (expected counts via
    forward-backward over every word's lattice, weighted by word
    frequency; M-step renormalizes), then prune to
    ``prune_factor × current`` pieces by expected count (single
    characters are never pruned), until ``vocab_size`` remains."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    wc = sorted(wc)
    logp = unigram_seed_vocab(wc, seed_size, max_piece_len)
    chars = {p for p in logp if len(p) == 1}
    if vocab_size < len(chars):
        raise ValueError(
            f"vocab_size {vocab_size} is below the {len(chars)}-char "
            "alphabet — every trained word must stay segmentable"
        )

    def em_sweep(cur: dict[str, float]) -> dict[str, float]:
        exp_tot: dict[str, float] = {}
        for w, f in wc:
            exp, _ = _forward_backward(w, cur, max_piece_len)
            for p, c in exp.items():
                exp_tot[p] = exp_tot.get(p, 0.0) + f * c
        # characters stay with a floor count so no seen char ever
        # drops out of the model between sweeps
        for p in chars:
            exp_tot[p] = exp_tot.get(p, 0.0) + 1e-6
        total = sum(exp_tot.values())
        return {p: math.log(c / total) for p, c in sorted(exp_tot.items())}

    while True:
        for _ in range(n_em_iters):
            logp = em_sweep(logp)
        if len(logp) <= vocab_size:
            break
        # prune by fitted usage, chars immortal; deterministic order
        multi = sorted(
            (p for p in logp if len(p) > 1), key=lambda p: (-logp[p], p)
        )
        target = max(vocab_size - len(chars), 0)
        shrunk = max(int(len(multi) * prune_factor), target)
        keep = chars | set(multi[:shrunk])
        logp = {p: lp for p, lp in logp.items() if p in keep}
        if shrunk == target and len(logp) <= vocab_size:
            # final renormalizing fit over the kept inventory
            for _ in range(n_em_iters):
                logp = em_sweep(logp)
            break
    return logp


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 400,
    min_count: int = 2,
    seed_size: int = 2000,
    max_piece_len: int = 8,
    n_em_iters: int = 2,
) -> dict[str, float]:
    """Learn a unigram piece table from a corpus: the shared
    distributed word-count reduction, then the driver EM/prune loop
    (see module docstring for why that boundary is correct). Same
    ``min_count`` contract as :func:`bpe.bpe_train`."""
    rows = word_counts(df, text_col, min_count=min_count).collect()
    wc = sorted((r["word"], r["n"]) for r in rows)
    return unigram_train_from_counts(
        wc,
        vocab_size=vocab_size,
        seed_size=seed_size,
        max_piece_len=max_piece_len,
        n_em_iters=n_em_iters,
    )


def pieces_to_df(spark, logp: dict[str, float]) -> DataFrame:
    """Piece table as a DataFrame ``(piece, logp)`` — the persistable
    model artifact (write as parquet, reload with
    ``{r["piece"]: r["logp"] for r in df.collect()}``)."""
    rows = sorted(logp.items())
    return spark.createDataFrame(rows, "piece string, logp double")


def viterbi_segment(
    word: str, logp: dict[str, float], max_piece_len: int = 8
) -> list[str]:
    """Highest-probability segmentation of one word (the encode path).
    Deterministic tie-break: on equal score prefer the LONGER last
    piece. Out-of-alphabet characters become their own pieces at
    :data:`UNK_LOGP` (they can never beat a real piece, so unknowns
    pass through untouched instead of failing the document)."""
    L = len(word)
    best = [(-math.inf, -1)] * (L + 1)
    best[0] = (0.0, -1)
    for j in range(1, L + 1):
        bs, bi = -math.inf, -1
        for i in range(max(0, j - max_piece_len), j):
            s0 = best[i][0]
            if s0 == -math.inf:
                continue
            lp = logp.get(word[i:j])
            if lp is None and j - i == 1:
                lp = UNK_LOGP  # single-char fallback
            if lp is None:
                continue
            s = s0 + lp
            # strictly-greater keeps the SMALLEST i (longest last
            # piece) on ties, because i ascends
            if s > bs:
                bs, bi = s, i
        best[j] = (bs, bi)
    out: list[str] = []
    j = L
    while j > 0:
        i = best[j][1]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def unigram_tokenize(
    df: DataFrame,
    logp: dict[str, float],
    text_col: str = "text",
    out_col: str = "unigram_tokens",
    max_piece_len: int = 8,
) -> DataFrame:
    """Tokenize with a trained piece table: per-word Viterbi under
    the broadcast log-prob dict, one ``mapInPandas`` pass with a
    per-worker word→pieces cache (a word repeated a billion times is
    segmented once per worker). Tokenization mirrors training
    (``word_counts``): space-trim + lowercase + ASCII ``\\s+``. Zero
    shuffle."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(dict(logp))
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(StringType()))]
    )

    def encode(batches):
        table = bc.value
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            col = []
            for text in pdf[text_col]:
                if text is None:
                    col.append(None)
                    continue
                pieces: list[str] = []
                for w in _JAVA_WS.split(text.strip(" ").lower()):
                    if not w:
                        continue
                    got = cache.get(w)
                    if got is None:
                        got = viterbi_segment(w, table, max_piece_len)
                        cache[w] = got
                    pieces.extend(got)
                col.append(pieces)
            res = pdf.copy()
            res[out_col] = col
            yield res

    return df.mapInPandas(encode, schema)
