"""Benchmark decontamination: flag training documents that overlap an
evaluation set by shared word n-grams.

The standard LLM curation step (GPT-3 appendix C / PaLM style): a
document is contaminated when it shares at least ``threshold`` distinct
n-grams with any benchmark document. The scale shape is deliberately
asymmetric — the corpus is the 100 TB side and is only ever *scanned*
(explode n-gram hashes, one narrow pass), while the benchmark shingle
set is tiny (eval suites are MBs) and rides a broadcast join, so there
is no corpus-sized shuffle anywhere: the only wide operation is the
per-document count aggregation, which is map-side combinable.

N-grams are compared by 60-bit md5-prefix hashes, not raw strings —
an 8-byte join key instead of a ~50-byte phrase, identical semantics
on any engine that can parse hex (the DuckDB oracle applies the same
digest-prefix). At 10⁹+ distinct benchmark grams the birthday bound
becomes visible (~2.7 × 10⁻² expected collisions at 10⁸ grams); eval
sets are orders of magnitude below that.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _shingles

__all__ = [
    "ngram_hashes",
    "decontaminate",
    "benchmark_leakage_report",
    "benchmark_gram_array",
    "decontaminate_stateless",
    "remove_contaminated_spans",
    "BoilerplateOrderingWarning",
    "MIN_SAFE_RAW_NGRAM",
]

#: Minimum gram length at which decontamination is meaningful over
#: text that still carries page chrome. Measured on the 1.28M-record
#: crawl composition (SCALE.md round 8): at the 5-gram default,
#: shared title/nav/footer boilerplate put >= 1 common 5-gram in
#: EVERY document and the stage flagged 100% of the corpus; at 13
#: grams the flags collapsed to exactly the planted benchmark
#: membership. 13 is the published choice (GPT-3 appendix C uses
#: 13-gram collision for exactly this reason).
MIN_SAFE_RAW_NGRAM = 13


class BoilerplateOrderingWarning(UserWarning):
    """Short-gram decontamination was requested on text not declared
    boilerplate-free — an ordering bug until proven otherwise."""


def _check_ordering_contract(ngram: int, text_is_extracted: bool) -> None:
    """The stage-ordering contract the crawl composition smoke proved:
    short-gram decontamination over chrome-bearing text flags the
    whole corpus (SCALE.md round 8 — 100% false-positive rate at
    5 grams until ``extract_main_content`` ran upstream). Callers on
    already-extracted / born-clean prose assert that with
    ``text_is_extracted=True``; raw-crawl callers either extract
    first or use ``ngram >= MIN_SAFE_RAW_NGRAM``."""
    if ngram < MIN_SAFE_RAW_NGRAM and not text_is_extracted:
        warnings.warn(
            f"decontamination with ngram={ngram} < {MIN_SAFE_RAW_NGRAM} "
            "over text not declared boilerplate-free: shared page "
            "chrome (nav/footer/title) puts common short n-grams in "
            "every document, and the measured outcome is a 100% "
            "contamination flag rate (SCALE.md round 8, 1.28M-record "
            "crawl chain). Run extract_main_content upstream and pass "
            "text_is_extracted=True, or use ngram >= "
            f"{MIN_SAFE_RAW_NGRAM}.",
            BoilerplateOrderingWarning,
            stacklevel=3,
        )


def _sorted_isin(h, bench):
    """Membership of ``h`` in the SORTED int64 ``bench`` array via
    searchsorted — O(len(h) log len(bench)) per call. np.isin would
    re-sort the concatenation on EVERY call, which deamortizes
    catastrophically when the kernel runs per document (measured:
    the 1.28M-doc chain's flag stage went 35.6 s with per-doc isin
    vs ~5 s with searchsorted at a 41k-gram benchmark)."""
    import numpy as np

    if len(bench) == 0 or len(h) == 0:
        return np.zeros(len(h), dtype=bool)
    idx = np.searchsorted(bench, h)
    inb = idx < len(bench)
    out = np.zeros(len(h), dtype=bool)
    out[inb] = bench[idx[inb]] == h[inb]
    return out


def _gram_hash(w: Column) -> Column:
    """60-bit bigint from the md5 prefix of an n-gram (engine-portable:
    DuckDB computes the identical value as ('0x' || substr(md5(w), 1,
    15))::BIGINT)."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")


def ngram_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
) -> DataFrame:
    """(id, gram-hash) pairs, one row per *distinct* n-gram per doc.

    Narrow: tokenize → zip-shifted slices (see ``dedup._shingles``) →
    dedupe within the array → explode → hash. No shuffle.
    """
    return df.select(
        F.col(id_col),
        F.explode(
            F.transform(_shingles(F.col(text_col), ngram), _gram_hash)
        ).alias("__g"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    threshold: int = 1,
    broadcast_benchmark: bool = True,
    text_is_extracted: bool = False,
) -> DataFrame:
    """Per-document benchmark-overlap audit.

    ORDERING CONTRACT: with ``ngram < MIN_SAFE_RAW_NGRAM`` (13) this
    is only meaningful over boilerplate-free text — declare that with
    ``text_is_extracted=True`` or a :class:`BoilerplateOrderingWarning`
    is emitted (measured basis in SCALE.md round 8: 100% of a
    1.28M-doc crawl flagged at 5 grams until ``extract_main_content``
    ran upstream).

    Returns one row per document that has at least one ``ngram``-gram
    (shorter docs carry no decontamination signal and are dropped):

    - ``n_ngrams``  — distinct n-grams in the document
    - ``n_hits``    — how many of them appear anywhere in ``benchmark``
    - ``overlap``   — ``n_hits / n_ngrams``
    - ``contaminated`` — ``n_hits >= threshold``

    ``broadcast_benchmark=True`` (default) hints the deduplicated
    benchmark gram set onto the broadcast side — the corpus side never
    shuffles. Disable only if the "benchmark" is itself corpus-sized
    (e.g. cross-corpus leakage checks), which degrades to a shuffle
    hash join on the 8-byte gram key.
    """
    _check_ordering_contract(ngram, text_is_extracted)
    bench = (
        ngram_hashes(benchmark, text_col, id_col, ngram)
        .select(F.col("__g").alias("__bg"))
        .distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)

    grams = ngram_hashes(docs, text_col, id_col, ngram)
    per_doc = (
        grams.join(bench, grams["__g"] == bench["__bg"], "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum(
                F.when(F.col("__bg").isNotNull(), 1).otherwise(0)
            ).alias("n_hits"),
        )
    )
    return per_doc.select(
        id_col,
        "n_ngrams",
        "n_hits",
        (F.col("n_hits") / F.col("n_ngrams")).alias("overlap"),
        (F.col("n_hits") >= F.lit(threshold)).alias("contaminated"),
    )


def benchmark_leakage_report(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    broadcast_benchmark: bool = True,
    text_is_extracted: bool = False,
) -> DataFrame:
    """The complement of :func:`decontaminate`: a per-BENCHMARK-item
    leakage audit. GPT-3 appendix C publishes exactly this — for each
    eval item, how much of it leaked into training, so results can be
    reported on the clean/dirty split — while :func:`decontaminate`
    answers the training-side question (which corpus docs to drop).

    Returns one row per benchmark document:

    - ``bench_doc_id``   — the benchmark document's ``id_col``
    - ``n_grams``        — its distinct ``ngram``-grams
    - ``n_grams_leaked`` — how many of them appear in ≥1 training doc
    - ``n_train_docs``   — distinct training docs sharing ≥1 gram
    - ``leak_frac``      — ``n_grams_leaked / n_grams``
    - ``clean``          — ``n_grams_leaked == 0`` (the published
      clean/dirty eval split)

    Benchmark docs with fewer than ``ngram`` tokens carry no signal
    and are dropped (mirroring :func:`decontaminate`'s corpus-side
    rule).

    Scale shape: the benchmark's (bench_doc_id, gram) table is tiny
    (eval suites are MBs) and broadcasts INTO the single corpus gram
    scan; the aggregation runs over the hit trickle keyed by bench
    doc — corpus-side cost identical to one :func:`decontaminate`
    pass, plus a parameter-sized left join to restore zero-hit
    (clean) benchmark rows. ``countDistinct`` is exact because its
    input is the trickle, never the corpus stream.
    """
    _check_ordering_contract(ngram, text_is_extracted)
    bgrams = ngram_hashes(benchmark, text_col, id_col, ngram).select(
        F.col(id_col).alias("bench_doc_id"), "__g"
    )
    per_bench = bgrams.groupBy("bench_doc_id").agg(
        F.count("*").alias("n_grams")
    )
    if broadcast_benchmark:
        bgrams = F.broadcast(bgrams)
    tgrams = ngram_hashes(docs, text_col, id_col, ngram)
    hits = tgrams.join(bgrams, "__g")  # (train id, bench_doc_id, gram)
    agg = hits.groupBy("bench_doc_id").agg(
        F.countDistinct("__g").alias("n_grams_leaked"),
        F.countDistinct(id_col).alias("n_train_docs"),
    )
    # the restore join: agg is per-bench-doc, broadcastable exactly
    # when the benchmark itself was (with broadcast_benchmark=False —
    # a corpus-sized cross-leakage check — both sides are big and the
    # keyed shuffle join is the right shape)
    if broadcast_benchmark:
        agg = F.broadcast(agg)
    return (
        per_bench.join(agg, "bench_doc_id", "left")
        .select(
            "bench_doc_id",
            "n_grams",
            F.coalesce("n_grams_leaked", F.lit(0)).alias("n_grams_leaked"),
            F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
            (
                F.coalesce("n_grams_leaked", F.lit(0)) / F.col("n_grams")
            ).alias("leak_frac"),
            (F.coalesce("n_grams_leaked", F.lit(0)) == 0).alias("clean"),
        )
    )


def benchmark_gram_array(
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
):
    """Collect the benchmark's deduplicated gram hashes to a sorted
    int64 numpy array — the model object of the stateless path.

    This is a deliberate driver boundary, same as the trained k-means
    centroids in ``similarity``: eval suites are MBs, so their gram
    set (8 bytes each) is a small array that ships to executors once
    as a task-closure broadcast.
    """
    import numpy as np

    rows = (
        ngram_hashes(benchmark, text_col, id_col, ngram)
        .select("__g")
        .distinct()
        .collect()
    )
    return np.sort(np.array([r[0] for r in rows], dtype=np.int64))


def decontaminate_stateless(
    docs: DataFrame,
    bench_grams,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    threshold: int = 1,
    keep_payload: bool = False,
    text_is_extracted: bool = False,
) -> DataFrame:
    """Shuffle-free decontamination — safe on streaming DataFrames.
    Same ordering contract as :func:`decontaminate` (short grams need
    boilerplate-free text).

    Same contract as :func:`decontaminate`, but tokenization, gram
    hashing AND the hit count run in ONE Arrow-batched kernel against
    the sorted benchmark gram array (round 9 — previously only the
    ``np.isin`` hit count was Arrow while the gram strings came from
    ``_shingles``'s n-1 nested ``zip_with``s, which are CodegenFallback:
    at the published 13-gram length the interpreted HOF tree was
    measured 16x slower than this kernel on a 30M-token corpus; see
    SCALE.md round 9 and the Gopher bake-off for the pattern). The
    kernel computes the SAME md5-prefix hashes over the SAME
    space-trim + ASCII-``\\s+`` tokenization (phantom leading empty
    token included), pinned equal to the joined path by
    ``test_decontaminate_stateless_matches_joined_path``. The plan is
    a single narrow projection: no exchange, no state — which is
    exactly what a ``readStream`` ingest filter needs (the joined
    :func:`decontaminate` needs a per-doc aggregation that streaming
    would have to hold state for; it keeps the JVM-expression grams
    for engine portability with the DuckDB twin).

    ``bench_grams`` is the array from :func:`benchmark_gram_array`.

    ``keep_payload=True`` returns ALL input columns plus the audit
    columns, and documents too short to form a single n-gram are kept
    with ``contaminated=false`` (nothing to match) instead of being
    dropped — the shape an ingest filter pipeline needs. The default
    keeps the audit-projection contract of :func:`decontaminate`.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .text import _ascii_ws_split

    _check_ordering_contract(ngram, text_is_extracted)
    # re-sorting is idempotent on benchmark_gram_array output and
    # guards a caller-built unsorted array (searchsorted contract)
    bench = np.sort(np.ascontiguousarray(bench_grams, dtype=np.int64))

    def _audit_one(t):
        if t is None:
            return (0, 0)
        toks = _ascii_ws_split(t, keep_empty=True)
        T = len(toks)
        if T < ngram:
            return (0, 0)
        if ngram == 1:
            grams = set(toks)
            if not grams - {""}:
                # mirror dedup._shingles' only-phantom guard so the
                # stateless flag stays differential-identical to the
                # joined path on blank docs at ngram=1
                return (0, 0)
        else:
            grams = {
                " ".join(toks[i : i + ngram]) for i in range(T - ngram + 1)
            }
        h = np.fromiter(
            (
                int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                for g in grams
            ),
            dtype=np.int64,
            count=len(grams),
        )
        return (len(grams), int(_sorted_isin(h, bench).sum()))

    @pandas_udf("n_ngrams long, n_hits long")
    def _audit(s):
        return pd.DataFrame(
            [_audit_one(t) for t in s], columns=["n_ngrams", "n_hits"]
        )

    # collision-proof staging name
    tmp = "__aud"
    while tmp in docs.columns:
        tmp += "_"
    staged = docs.withColumn(tmp, _audit(F.col(text_col))).withColumn(
        "n_ngrams", F.col(f"{tmp}.n_ngrams")
    )
    staged = staged.withColumn("n_hits", F.col(f"{tmp}.n_hits"))
    if keep_payload:
        return staged.select(
            *docs.columns,
            "n_ngrams",
            "n_hits",
            F.when(
                F.col("n_ngrams") > 0, F.col("n_hits") / F.col("n_ngrams")
            ).alias("overlap"),
            (
                (F.col("n_ngrams") > 0)
                & (F.col("n_hits") >= F.lit(threshold))
            ).alias("contaminated"),
        )
    return (
        staged.filter(F.col("n_ngrams") > 0)
        .select(
            id_col,
            "n_ngrams",
            "n_hits",
            (F.col("n_hits") / F.col("n_ngrams")).alias("overlap"),
            (F.col("n_hits") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def remove_contaminated_spans(
    docs: DataFrame,
    bench_grams,
    text_col: str = "text",
    ngram: int = 13,
    pad: int = 0,
    text_is_extracted: bool = False,
) -> DataFrame:
    """SURGICAL decontamination: excise the benchmark-overlapping
    token spans and keep the document, instead of dropping it whole
    (the Llama-3-style treatment — a 2k-word page quoting one
    benchmark sentence keeps its other 1,980 words).

    A token position is removed when ANY ``ngram``-gram covering it
    appears in ``bench_grams`` (the sorted int64 array from
    :func:`benchmark_gram_array` — the same md5-prefix hashes, so
    flag and surgery share one definition of overlap), extended by
    ``pad`` tokens on each side of every contaminated span (quoted
    text usually rides intro/attribution words the gram match
    misses). Coverage is a positional union via the same diff-array
    the Gopher dup-coverage kernel uses; overlapping matches never
    double-remove.

    Returns all input columns with ``text_col`` REPLACED by the
    surviving tokens (single-space joined — the op is downstream of
    cleaning, where runs of whitespace are already collapsed) plus
    ``n_tokens_removed`` / ``n_tokens_kept`` audit columns. Docs
    shorter than ``ngram`` tokens pass through untouched.

    ZERO-RESIDUAL GUARANTEE: excision junctions the tokens on either
    side of a removed span, which can FORM a benchmark n-gram that
    neither side carried — so the kernel iterates to a TRUE fixpoint:
    it re-scans and re-excises until no covering gram remains. The
    loop terminates unconditionally because every pass strictly
    removes at least one token (a hit implies ``removed.sum() >= 1``),
    bounding the pass count by the doc's token count; in practice one
    extra pass settles it (property-tested on dense-collision corpora:
    the cleaned output always re-audits to zero contamination at the
    same ``ngram``, and a junction chain engineered to need many
    passes still drains to zero). Tokenization mirrors
    ``ngram_hashes`` exactly (space-trim + ASCII ``\\s+``, keeping
    the phantom leading empty token for gram formation) so a gram
    flagged by :func:`decontaminate` is the gram removed here. The
    ``n_tokens_kept`` audit column counts NON-EMPTY tokens on both
    the touched and untouched paths.

    Scale shape: one Arrow-batched kernel against the broadcast gram
    array — scan-class, zero shuffle, stateless (streaming-safe).
    Cost is one Python md5 per token position, so the intended use
    is AFTER flagging, on the contaminated slice only:
    ``flagged.filter("contaminated")`` is typically <0.1% of a clean
    corpus.

    ORDERING CONTRACT: same as :func:`decontaminate` — short grams
    over chrome-bearing text would excise every document's chrome
    AND its neighbors, and unlike the flag paths this op is
    DESTRUCTIVE, so the contract is enforced here too: pass
    ``text_is_extracted=True`` for boilerplate-free prose or keep
    ``ngram >= MIN_SAFE_RAW_NGRAM`` (the published 13 is the
    default).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .text import _ascii_ws_split

    _check_ordering_contract(ngram, text_is_extracted)

    bench = np.sort(np.ascontiguousarray(bench_grams, dtype=np.int64))

    def one(t):
        if t is None:
            return (None, 0, 0)
        toks = _ascii_ws_split(t, keep_empty=True)
        first = True
        total_removed = 0
        # TRUE fixpoint loop: excising a span junctions the tokens on
        # its two sides, which can FORM a benchmark n-gram that
        # neither side carried — one-pass removal is not a
        # zero-residual guarantee. Terminates unconditionally: a hit
        # implies this pass removes >= 1 token, so the pass count is
        # bounded by len(toks). (An 8-pass cap here was a real bug —
        # a junction chain deeper than the cap returned contaminated
        # text silently; see test_remove_contaminated_spans_deep_chain.)
        while True:
            T = len(toks)
            if T < ngram:
                break
            hashes = np.fromiter(
                (
                    int(
                        hashlib.md5(
                            " ".join(toks[i : i + ngram]).encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                    for i in range(T - ngram + 1)
                ),
                dtype=np.int64,
                count=T - ngram + 1,
            )
            hit = np.nonzero(_sorted_isin(hashes, bench))[0]
            if len(hit) == 0:
                break
            lo = np.maximum(hit - pad, 0)
            hi = np.minimum(hit + ngram + pad, T)
            cover = np.zeros(T + 1, np.int32)
            np.add.at(cover, lo, 1)
            np.add.at(cover, hi, -1)
            removed = np.cumsum(cover[:T]) > 0
            total_removed += int(removed.sum())
            toks = [w for w, r in zip(toks, removed) if not r]
            first = False
        if first:  # untouched: return the text verbatim, but count
            # kept tokens the same way the surgery path does (the
            # phantom leading empty token from keep_empty=True is a
            # gram-formation artifact, not a kept token).
            return (t, 0, sum(1 for w in toks if w))
        kept = [w for w in toks if w]
        return (" ".join(kept), total_removed, len(kept))

    @pandas_udf(f"{text_col} string, n_tokens_removed long, n_tokens_kept long")
    def _surgery(s):
        return pd.DataFrame(
            [one(t) for t in s],
            columns=[text_col, "n_tokens_removed", "n_tokens_kept"],
        )

    others = [c for c in docs.columns if c != text_col]
    tmp = "__sg"
    while tmp in docs.columns:
        tmp += "_"
    return docs.withColumn(tmp, _surgery(F.col(text_col))).select(
        *others,
        F.col(f"{tmp}.{text_col}").alias(text_col),
        F.col(f"{tmp}.n_tokens_removed").alias("n_tokens_removed"),
        F.col(f"{tmp}.n_tokens_kept").alias("n_tokens_kept"),
    )
