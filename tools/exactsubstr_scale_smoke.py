"""Scale smoke for cross-document repeated-span detection + REMOVAL
(round 11 — the Lee et al. 2022 ExactSubstr pair:
`repeated_spans` / `remove_repeated_spans`).

Corpus shape mirrors what the operator exists for: mostly-unique
pages where a few percent quote shared passages (boilerplate,
licenses, syndicated paragraphs). Docs are `n_tokens` Zipf tokens;
`dup_frac` of them embed one of `n_passages` shared 60-token
passages at a random offset. Prices, per stage:

* detect      — repeated_spans (2 gram scans + count + semi-join +
                window merge);
* remove-1    — one removal round, keep_first (adds keeper agg,
                anti-join, collect_list span join, JVM excision);
* fixpoint    — until_clean (the extra rounds are detection passes
                over the already-cleaned corpus; round 2+ should be
                hit-free here, pricing the convergence check).

Correctness gates inside the smoke: re-detection on the cleaned
corpus is EMPTY, exactly one copy of each passage survives, and
untouched docs pass through byte-identical.

Usage: python tools/exactsubstr_scale_smoke.py [n_docs] [n_tokens]
       (defaults 200_000 300)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pyspark.sql import functions as F

from melodist_spark.session import get_spark

SPAN = 50
N_PASSAGES = 20
DUP_FRAC = 0.03


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_tokens = int(sys.argv[2]) if len(sys.argv) > 2 else 300

    spark = get_spark("exactsubstr_scale_smoke")
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(11)
    vocab = np.array([f"w{i}" for i in range(50_000)])
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    passages = [
        " ".join(rng.choice(vocab, size=60, p=zipf)) for _ in range(N_PASSAGES)
    ]

    def gen(n):
        for i in range(n):
            toks = list(rng.choice(vocab, size=n_tokens, p=zipf))
            if rng.random() < DUP_FRAC:
                p = passages[int(rng.integers(N_PASSAGES))].split()
                at = int(rng.integers(0, n_tokens - len(p)))
                toks[at : at + len(p)] = p
            yield i, " ".join(toks)

    import pandas as pd

    path = "/tmp/exactsubstr_smoke_corpus"
    pd.DataFrame(gen(n_docs), columns=["doc_id", "text"]).to_parquet(
        path, index=False
    )
    docs = spark.read.parquet(path).repartition(32).persist()
    n = docs.count()
    print(f"corpus: {n} docs x ~{n_tokens} tokens")

    from melodist_spark.pipeline.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    t0 = time.perf_counter()
    spans = repeated_spans(docs, span_tokens=SPAN).persist()
    n_spans = spans.count()
    t1 = time.perf_counter()
    print(f"detect: {n_spans} spans in {t1 - t0:.1f}s")

    one = remove_repeated_spans(
        docs, span_tokens=SPAN, until_clean=False
    ).persist()
    r1 = one.agg(F.sum("n_tokens_removed")).collect()[0][0]
    t2 = time.perf_counter()
    print(f"remove-1 (keep_first): {r1} tokens removed in {t2 - t1:.1f}s")

    clean = remove_repeated_spans(docs, span_tokens=SPAN).persist()
    rt = clean.agg(F.sum("n_tokens_removed")).collect()[0][0]
    t3 = time.perf_counter()
    print(f"fixpoint: {rt} tokens removed in {t3 - t2:.1f}s")

    # reliable-checkpoint mode (round 12): every round truncates to
    # alternating scratch parquet instead of executor-local blocks —
    # the price of executor-loss recovery is the per-round write
    rel = remove_repeated_spans(
        docs, span_tokens=SPAN, checkpoint_dir="/tmp/exactsubstr_smoke_ck"
    )
    rrel = rel.agg(F.sum("n_tokens_removed")).collect()[0][0]
    t3r = time.perf_counter()
    print(f"fixpoint-reliable: {rrel} tokens removed in {t3r - t3:.1f}s")
    assert rrel == rt, (rrel, rt)

    # round 13: driver-loss resume. Re-invoking the COMPLETED reliable
    # run with resume=True must hit the done manifest and return the
    # final docs slot without re-running any detection round — the
    # restart-after-crash-at-the-finish-line price is one parquet
    # read, not another full fixpoint. (Mid-run resume is pinned at
    # unit scale by test_remove_repeated_spans_resume_after_crash.)
    res = remove_repeated_spans(
        docs, span_tokens=SPAN,
        checkpoint_dir="/tmp/exactsubstr_smoke_ck", resume=True,
    )
    rres = res.agg(F.sum("n_tokens_removed")).collect()[0][0]
    t3rr = time.perf_counter()
    print(f"resume-after-done: {rres} tokens in {t3rr - t3r:.1f}s")
    assert rres == rt, (rres, rt)

    # gates
    residual = repeated_spans(
        clean.select("doc_id", "text"), span_tokens=SPAN
    ).count()
    survivors = (
        clean.select(F.col("text"))
        .filter(
            F.col("text").contains(passages[0])
        )
        .count()
    )
    untouched_ok = (
        clean.filter(F.col("n_tokens_removed") == 0)
        .join(docs.withColumnRenamed("text", "orig"), "doc_id")
        .filter(F.col("text") != F.col("orig"))
        .count()
    )
    print(
        f"gates: residual_spans={residual} passage0_survivors={survivors} "
        f"mutated_untouched={untouched_ok}"
    )
    assert residual == 0 and survivors == 1 and untouched_ok == 0
    print("OK")


if __name__ == "__main__":
    main()
