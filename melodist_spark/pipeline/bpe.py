"""Byte-pair-encoding tokenizer training and application.

The tokenizer side of a training-data pipeline: learn a BPE merge
table from the corpus (Sennrich et al. 2016, the algorithm behind the
GPT-2/RoBERTa vocabularies) and tokenize the corpus with it.

Scale decomposition (the same model/data boundary as the k-means
centroids and the broadcast bigram LM):

- **corpus → word counts** (:func:`word_counts`): the only
  corpus-sized operation — one map-side-combined ``groupBy(word)``
  count over an exploded token stream. Industrial BPE trainers train
  from exactly this word-frequency dict, not the raw corpus; at
  100 TB the output is vocabulary-bounded (``min_count`` prunes the
  hapax tail, which is both standard practice and what bounds the
  driver round-trip).
- **word counts → merge table** (:func:`bpe_train`): the sequential
  merge loop is inherently iterative (merge k depends on merge k-1)
  and runs on the driver over the pruned word-freq table — the model
  is being *produced* here, so this is the correct driver boundary,
  not a scale compromise. Incremental pair-count maintenance makes it
  O(words touched per merge), not O(vocab × merges).
- **merge table → tokens** (:func:`bpe_tokenize`): the merge table
  (the model, ≤ vocab_size rows) broadcasts to every worker; each
  Arrow batch tokenizes via the greedy rank-lowest-pair loop with a
  per-worker word→tokens cache, so a word repeated a billion times
  is encoded once per worker, not per occurrence. No shuffle at all.

Determinism: merge selection ties (equal pair count) break on the
lexicographically smallest pair, so the learned table is independent
of partitioning and dict iteration order.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"

# Tokenizer parity (training vs encoding): word_counts splits with the
# JVM regex \s+, and Java's \s is the ASCII class [ \t\n\x0b\f\r] —
# NOT Unicode whitespace. The Python encoder must split on exactly the
# same class (str.split() would also break on U+00A0/U+2028/U+0085/
# \x1c-\x1f, silently training on different word boundaries than
# encoding applies). Same discipline as lm.py's pinned tokenizer.
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def word_counts(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Distinct-word frequency table ``(word, n)`` — whitespace
    tokenization on the lowercased text, empty tokens dropped. The
    one corpus-sized aggregation of BPE training (map-side combined;
    a word repeated a billion times costs one partial row per
    partition)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    out = (
        df.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out


def _pair_counts(words: list[list[str]], freqs: list[int]) -> dict:
    counts: dict[tuple[str, str], int] = {}
    for syms, f in zip(words, freqs):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + f
    return counts


def _merge_word(syms: list[str], pair: tuple[str, str]) -> list[str]:
    a, b = pair
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train_from_counts(
    wc: "list[tuple[str, int]]", num_merges: int
) -> list[tuple[str, str]]:
    """Driver-side merge loop over a (word, freq) list. Returns the
    ordered merge table. Pure function of its input (deterministic
    tie-break: highest count, then lexicographically smallest pair).
    """
    words = [list(w) + [END_OF_WORD] for w, _ in wc]
    freqs = [n for _, n in wc]
    counts = _pair_counts(words, freqs)
    # index: pair -> set of word ids containing it (incremental upkeep)
    where: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        for i in range(len(syms) - 1):
            where.setdefault((syms[i], syms[i + 1]), set()).add(wi)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        for p, c in counts.items():
            if c <= 0:
                continue
            if best is None or c > counts[best] or (
                c == counts[best] and p < best
            ):
                best = p
        if best is None:
            break
        merges.append(best)
        for wi in list(where.get(best, ())):
            syms = words[wi]
            f = freqs[wi]
            # retract this word's pair contributions, merge, re-add
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] -= f
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
            new = _merge_word(syms, best)
            words[wi] = new
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                counts[p] = counts.get(p, 0) + f
                where.setdefault(p, set()).add(wi)
        counts.pop(best, None)
        where.pop(best, None)
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from a corpus: distributed word-count
    reduction, then the driver merge loop (see module docstring for
    why that boundary is correct). Returns ``[(left, right), ...]``
    in merge order.

    Driver boundary: the collect is bounded by the number of DISTINCT
    words above ``min_count``, not corpus size — but a web-scale
    crawl has 10^8+ distinct "words" (typos, URLs, hashes), so
    ``min_count=1`` would collect the entire unpruned tail to the
    driver. The default is therefore 2 (drops hapax legomena — the
    standard Sennrich pruning, which also barely moves the learned
    merges because count-1 pairs almost never win a merge). For
    crawl-scale corpora raise it further (GPT-2-scale trainers prune
    far harder); set ``min_count=1`` only on small corpora where the
    full word table is known to fit on the driver."""
    wc = word_counts(df, text_col, min_count=min_count).collect()
    # sort for a partitioning-independent driver state (tie-breaks in
    # the merge loop are already deterministic; this pins word order)
    pairs = sorted((r["word"], r["n"]) for r in wc)
    return bpe_train_from_counts(pairs, num_merges)


def _encode_word(word: str, rank: dict) -> list[str]:
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_i = -1
        best_r = None
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_r = r
                best_i = i
        if best_i < 0:
            break
        syms = (
            syms[:best_i]
            + [syms[best_i] + syms[best_i + 1]]
            + syms[best_i + 2 :]
        )
    return syms


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a trained merge table: greedy lowest-rank merge
    per word (the standard BPE encoder). The merge table broadcasts;
    encoding runs in one ``mapInPandas`` pass with a per-worker
    word→pieces cache — zero shuffle, corpus scanned once."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)}
    )
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(StringType()))]
    )

    def encode(batches):
        rank = bc.value
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
                        got = _encode_word(w, rank)
                        cache[w] = got
                    pieces.extend(got)
                col.append(pieces)
            res = pdf.copy()
            res[out_col] = col
            yield res

    return df.mapInPandas(encode, schema)
