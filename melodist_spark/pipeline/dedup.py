"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard.

Scale design: exact dedup is a single hash aggregation on a digest
(map-side combine, no wide rows shuffled). MinHash signatures are
computed per row from the token array (narrow), LSH banding turns the
quadratic candidate search into an equi-join on (band, hash) — the
classic shingle→minhash→band→bucket-join pipeline, all expressible as
DataFrame ops that AQE can re-plan under skew.

The per-seed min-over-md5 construction is a valid MinHash family
(lexicographic min of a salted cryptographic hash ≈ random permutation
min) and is engine-portable — no reliance on Spark's murmur3.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_logger = logging.getLogger(__name__)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5 digest.

    Returns (digest, n_docs, keep_id) for groups with >1 member; the
    kept representative is the minimum id (deterministic).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct text."""
    keep = (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def digest_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-column (digest) index of a corpus's distinct text md5s —
    the durable state an incremental ingest deduplicates against.
    Map-side-combined distinct; store it partitioned/bucketed by
    digest and it grows by one row per new distinct document."""
    return df.select(F.md5(F.col(text_col)).alias("digest")).distinct()


def dedup_against(
    df: DataFrame, index: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental exact dedup: drop documents whose text digest
    already exists in ``index`` (from :func:`digest_index` — e.g. the
    digest table of everything previously ingested).

    One left-anti equi-join on the digest; combined with
    :func:`dedup_exact` on the batch itself this gives exactly-once
    ingest across corpus snapshots without ever re-scanning the
    historical corpus. Union the surviving batch's
    :func:`digest_index` into the stored index to advance the state.
    """
    keyed = df.withColumn("__digest", F.md5(F.col(text_col)))
    return keyed.join(
        index.select(F.col("digest").alias("__digest")),
        "__digest",
        "left_anti",
    ).drop("__digest")


def repeated_spans(
    df: DataFrame,
    span_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occurrences: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Duplicate-passage detection (the ExactSubstr idea of Lee et
    al.'s "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally): find every position where a document
    contains a ``span_tokens``-token passage that occurs at least
    ``min_occurrences`` times in the corpus, and merge overlapping
    positions into maximal spans. Downstream curation cuts the spans
    out (rather than dropping whole documents — most duplicated text
    lives inside otherwise-unique pages).

    Instead of a suffix array (shared-memory, hard to distribute),
    the corpus is exploded into one xxhash64 per token position over
    the ``span_tokens``-gram starting there — the same cost class as
    the MinHash shingle pass. Repeated grams fall out of a map-side-
    combined count; positions flow back through a semi-join, and a
    per-document window merges overlapping hits into spans. Hash
    collisions (~2^-64 per pair) can at worst mark a non-duplicated
    span — the standard trade the hashed variant makes.

    Returns (id, span_begin, span_end, n_positions): token-offset
    span [span_begin, span_end) and how many duplicated gram
    positions support it.
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    pos = _gram_positions(df, span_tokens, text_col, id_col, portable)
    # The aggregate (build) side and the probe side both derive from
    # `pos`, so the gram scan runs twice — a deliberate trade: the
    # recompute is a stateless linear map pass, while the alternatives
    # either cache a corpus-sized exploded table (memory pressure the
    # caller can't see) or count via a window over __gh (un-splittable
    # hot partition for a billion-fold duplicated gram; the groupBy
    # here combines map-side and the semi-join gets AQE skew handling).
    dup = (
        pos.groupBy("__gh")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_occurrences)
        .select("__gh")
    )
    hits = pos.join(dup, "__gh", "left_semi")
    return _merge_hit_positions(hits, span_tokens, id_col)


def _gram_positions(
    df: DataFrame,
    span_tokens: int,
    text_col: str,
    id_col: str,
    portable: bool = False,
) -> DataFrame:
    """(id, __pos, __gh): one hash per token position over the
    ``span_tokens``-gram starting there — the exploded position table
    behind :func:`repeated_spans` (detection) and
    :func:`remove_repeated_spans` (removal), so both share one
    definition of "the gram at position p".

    ``portable=True`` switches the gram hash from xxhash64 (fastest,
    JVM-specific) to the 60-bit md5-prefix family every external
    oracle can replay (``('0x'||substr(md5(g),1,15))::BIGINT`` in
    DuckDB — the same construction the MinHash oracles use). The hit
    sets are identical up to the respective ~2^-60 collision floors;
    the span_removal registry row runs portable so the WHOLE
    detect+excise pipeline is value-hash-checked cross-engine."""
    # stage the token array in its own projection: the per-position
    # lambda below slices it L-span+1 times, and an inlined split
    # expression would re-tokenize the whole document per position —
    # the O(L²) codegen trap `_shingles` documents (measured 6×)
    staged = df.withColumn("__toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    toks = F.col("__toks")
    n = F.size(toks)

    if portable:
        def gh(i):
            return F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(toks, i + 1, F.lit(span_tokens)))),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
    else:
        def gh(i):
            return F.xxhash64(
                F.concat_ws(" ", F.slice(toks, i + 1, F.lit(span_tokens)))
            )

    # sequence(0, k) is DESCENDING for k < 0 — guard short docs to an
    # empty gram array instead
    starts = F.when(
        n >= span_tokens, F.sequence(F.lit(0), n - span_tokens)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts, gh)
    return staged.select(
        F.col(id_col), F.posexplode(grams).alias("__pos", "__gh")
    )


def _merge_hit_positions(
    hits: DataFrame, span_tokens: int, id_col: str
) -> DataFrame:
    """Merge duplicated gram-hit positions into maximal token spans
    (id, span_begin, span_end, n_positions) — one per-document window
    pass; a new span starts when a position no longer overlaps the
    previous hit's gram ([prev, prev+span) vs pos)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    return (
        hits.withColumn("__prev", F.lag("__pos").over(w))
        .withColumn(
            "__new",
            (
                F.col("__prev").isNull()
                | (F.col("__pos") - F.col("__prev") > span_tokens)
            ).cast("int"),
        )
        .withColumn("__span", F.sum("__new").over(w))
        .groupBy(id_col, "__span")
        .agg(
            F.min("__pos").alias("span_begin"),
            (F.max("__pos") + span_tokens).alias("span_end"),
            F.count("*").alias("n_positions"),
        )
        .drop("__span")
    )


def _local_ck_release(df: DataFrame) -> None:
    """Best-effort block release for a frame produced by
    ``localCheckpoint``: the checkpointed RDD is reachable through the
    LogicalRDD node of the returned frame's analyzed plan, and
    unpersisting IT (``DataFrame.unpersist`` only talks to the cache
    manager, which never saw a checkpoint) frees the executor-storage
    blocks immediately instead of waiting for driver GC + the context
    cleaner. Internal-handle access, so the degraded path is made
    OBSERVABLE instead of silent (round-13 advisor finding): on Spark
    Connect there is no ``_jdf`` at all — gate on that capability and
    log at debug; any other failure (JVM API drift) also logs the
    exception at debug before degrading to the GC path. Spark logs
    one WARN per successful release ("lineage has been truncated and
    cannot be recomputed after unpersisting") — expected: the caller
    only releases frames nothing will read again."""
    if not hasattr(df, "_jdf"):
        # Spark Connect frames carry no JVM handle: block hygiene
        # degrades to GC + context-cleaner pacing there by design
        _logger.debug(
            "localCheckpoint block release unavailable (no _jdf handle "
            "— Spark Connect?); blocks will be freed by GC pacing"
        )
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        _logger.debug(
            "localCheckpoint block release degraded to GC pacing",
            exc_info=True,
        )


# ---------------------------------------------------------------------------
# Driver-loss resume manifests (round 13)
#
# Reliable ``checkpoint_dir`` mode protects the iterative ops against
# EXECUTOR loss (every round's state is durable parquet), but without a
# recorded round counter a died DRIVER restarts a 30-round job from
# round 0 even though round 29's slot is sitting on durable storage.
# The manifest is that counter: a tiny one-row text dataset written
# AFTER each round's slot write completes, recording the op name, the
# semantic parameters (the index-stamp discipline — a mismatched resume
# raises instead of silently continuing the wrong computation), the
# completed round and which slot holds it.  Manifests alternate between
# two paths like the data slots, so a torn manifest write can only
# corrupt the slot whose data was about to be superseded — the OTHER
# manifest still points at intact durable state, and resume picks the
# newest READABLE one.
# ---------------------------------------------------------------------------


def _manifest_write(
    spark, checkpoint_dir: str, slot: int, payload: dict
) -> None:
    """Write a round manifest (``payload`` must carry ``seq``) to the
    alternating ``manifest_{slot}`` path. Uses a one-row text dataset
    (not a driver-side ``open()``) so the manifest lands on whatever
    filesystem backs ``checkpoint_dir`` — HDFS/S3 on a real cluster,
    local disk in tests."""
    import json as _json

    path = f"{checkpoint_dir.rstrip('/')}/manifest_{slot % 2}"
    line = _json.dumps(payload, sort_keys=True)
    # range(1)+lit, not createDataFrame([(line,)]): the local-relation
    # sink path costs ~4.7 s per write on this Spark build (measured;
    # the range-based plan writes the same one row in ~0.3 s), and the
    # manifest lands once per fixpoint round
    spark.range(1).select(F.lit(line).alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(path)


def _manifest_read_latest(spark, checkpoint_dir: str) -> dict | None:
    """Newest readable manifest under ``checkpoint_dir`` (max ``seq``
    across the two alternating slots), or None when neither slot holds
    a parseable manifest — an unreadable slot (missing directory, torn
    write, garbage content) is skipped, never fatal: its partner
    always describes intact state."""
    import json as _json

    best = None
    for i in (0, 1):
        path = f"{checkpoint_dir.rstrip('/')}/manifest_{i}"
        try:
            rows = spark.read.text(path).collect()
            m = _json.loads(rows[0]["value"])
        except Exception:
            continue
        if best is None or m["seq"] > best["seq"]:
            best = m
    return best


def _manifest_validate(manifest: dict, op: str, params: dict) -> None:
    """Refuse to resume someone else's state: the manifest must have
    been written by the same operator with the same SEMANTIC
    parameters (loop-control knobs like max_rounds/n_iter may change
    across a resume — extending a capped run is the point)."""
    if manifest.get("op") != op:
        raise ValueError(
            f"checkpoint_dir holds a manifest written by "
            f"{manifest.get('op')!r}, not {op!r} — refusing to resume "
            "from another operator's state; use a fresh directory"
        )
    got = {k: manifest.get("params", {}).get(k) for k in params}
    if got != params:
        raise ValueError(
            f"{op} resume parameter mismatch: the manifest records "
            f"{got} but this call asks for {params} — continuing "
            "would silently mix two different computations. Pass the "
            "values the run was started with (or a fresh directory)."
        )


def _truncate_round(
    df: DataFrame, checkpoint_dir: str | None, slot: str, eager: bool
) -> DataFrame:
    """Round-lineage truncation shared by the span-removal fixpoints:
    ``checkpoint_dir=None`` → ``localCheckpoint`` (executor-local
    blocks — fastest, but a lost executor kills the job because the
    truncated lineage cannot recompute); a directory → alternating
    scratch-parquet slots (the ``duplicate_clusters`` reliable-mode
    discipline), so executor loss replays at most one round from
    durable state. Slot parity alternates per round upstream so a
    write never overwrites the parquet its own job is reading."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    path = f"{checkpoint_dir.rstrip('/')}/{slot}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def remove_repeated_spans(
    df: DataFrame,
    span_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occurrences: int = 2,
    keep_first: bool = True,
    until_clean: bool = True,
    max_rounds: int = 20,
    portable: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Cross-document repeated-span REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    their ExactSubstr treatment removes the duplicated substring,
    not the document): excise every token span that
    :func:`repeated_spans` would detect (same gram hashes, same
    positions helper — the two ops share one definition of overlap),
    keeping the rest of each page.

    ``keep_first=True`` (the paper's remove-all-but-one policy)
    designates the minimal ``(id, position)`` occurrence of each
    duplicated gram as its keeper and excises only the others —
    deterministic under any partitioning. ``keep_first=False``
    removes every occurrence (the conservative
    boilerplate-annihilation mode).

    JUNCTION RESIDUALS: excision joins the text on either side of a
    removed span, and when many documents share template structure
    the SAME junction can form in many of them — a NEW corpus-wide
    duplicated gram neither side carried (the cross-document analogue
    of the decontamination surgery's junction grams, which that
    kernel fixpoints per-document; here the residual is a CORPUS
    property, so the fixpoint must be corpus-wide). With
    ``until_clean=True`` detection+removal rounds repeat until a
    detection pass finds nothing (one driver ``isEmpty`` action per
    round; lineage is truncated between rounds). Each round with hits
    strictly removes tokens, so the loop terminates; in practice one
    round settles ordinary corpora and a second drains template
    junctions. ``max_rounds`` is a hard failure bound — hitting it
    raises rather than silently returning contaminated text (the
    lesson of the surgery kernel's 8-pass-cap bug).

    Returns all input columns with ``text_col`` REPLACED by the
    surviving tokens (single-space joined, as the surgery kernel)
    plus ``n_tokens_removed`` / ``n_tokens_kept`` audit columns
    (kept counts NON-EMPTY tokens; cumulative across rounds).

    Scale shape: per round, the same two gram scans + one
    map-side-combined count + semi/anti equi-joins as detection
    (never a broadcast of the duplicated-gram set — corpus-wide
    duplicate inventories are NOT parameter-sized at crawl scale,
    unlike benchmark gram sets), one per-doc window merge, and a
    collect_list-of-spans join back to the documents; the excision
    itself is a JVM filter-with-index over the staged token array
    (spans per doc are few, so the exists() probe is cheap). No
    Python in the loop, no driver-side text.

    CHECKPOINTING: with ``checkpoint_dir=None`` the per-round
    truncation is ``localCheckpoint`` — executor-local blocks, the
    cheapest truncation, with each round's blocks released as soon as
    the next round materializes (the fixpoint holds at most two
    corpus copies in executor storage, not one per round). The blocks
    are NOT fault-tolerant: truncated lineage cannot recompute, so a
    lost executor mid-fixpoint fails the whole job — acceptable on a
    single-node session or when a rerun is cheap. At cluster scale
    pass ``checkpoint_dir``: every round's document frame and span
    table are written to alternating scratch-parquet slots under that
    reliable path (the :func:`duplicate_clusters` discipline), so
    executor loss replays at most one round from durable state and
    the returned frame itself reads from parquet.

    DIRECTORY LIFETIME (round-13 advisor finding): in reliable mode
    the returned DataFrame lazily READS the live scratch parquet under
    ``checkpoint_dir`` — the directory must outlive full consumption
    of the result (materialize it elsewhere before reusing or cleaning
    the directory). Give each CONCURRENT call its own directory; a
    SEQUENTIAL second call reusing the directory overwrites the slots
    an earlier unmaterialized result still reads, silently corrupting
    it.

    DRIVER-LOSS RESUME (round 13): in reliable mode each round's
    completed docs slot is recorded in an alternating one-row manifest
    (round counter + the semantic parameters, written AFTER the slot
    write — a torn manifest only ever shadows superseded state).
    ``resume=True`` reads the newest readable manifest, validates the
    op name and ``span_tokens``/``min_occurrences``/``keep_first``/
    ``portable``/column names against this call (mismatch raises, the
    index-stamp discipline), and continues the fixpoint from the
    recorded round's parquet instead of round 0 — a 30-round job that
    dies at round 29 replays one round, not thirty. The crashed run's
    ``max_rounds`` may differ (extending a capped run is a legitimate
    resume); with no readable manifest the call starts fresh, making
    ``resume=True`` the always-safe restart idiom. Requires
    ``checkpoint_dir`` + ``until_clean``, and assumes the SAME input
    frame — the manifest cannot verify corpus identity.
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    if max_rounds < 1:
        # validated unconditionally: the rounds > max_rounds bound
        # also runs in single-round mode, where a bad value would
        # surface as a misleading "did not converge" RuntimeError
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if resume and (checkpoint_dir is None or not until_clean):
        raise ValueError(
            "resume=True requires checkpoint_dir (the durable slots "
            "ARE the resume state) and until_clean=True (single-round "
            "mode has no rounds to resume)"
        )

    spark = df.sparkSession
    _OP = "remove_repeated_spans"
    params = {
        "span_tokens": span_tokens,
        "text_col": text_col,
        "id_col": id_col,
        "min_occurrences": min_occurrences,
        "keep_first": keep_first,
        "portable": portable,
    }

    audit_removed = F.lit(0).cast("long")
    audit_kept = None  # computed at the end from the final text
    cur = df
    rounds = 0
    manifests = checkpoint_dir is not None and until_clean
    if manifests:
        manifest = _manifest_read_latest(spark, checkpoint_dir) if resume else None
        if manifest is not None:
            _manifest_validate(manifest, _OP, params)
            rounds = manifest["seq"]
            if rounds >= 1:
                cur = spark.read.parquet(
                    f"{checkpoint_dir.rstrip('/')}/docs_{rounds % 2}"
                )
                audit_removed = F.col("__cum_removed")
            if manifest.get("done"):
                # the crashed run had already drained its fixpoint —
                # the newest docs slot IS the answer
                return _finalize_span_audit(cur, text_col)
        else:
            # fresh start: stamp round 0 into BOTH manifest slots so a
            # stale manifest from a previous run in this directory can
            # never be mistaken for this run's progress
            for s in (0, 1):
                _manifest_write(
                    spark, checkpoint_dir, s,
                    {"op": _OP, "params": params, "seq": 0, "done": False},
                )
            rounds = 0
    prev_frames: list[DataFrame] = []  # prior round's checkpoints
    while True:
        pos = _gram_positions(cur, span_tokens, text_col, id_col, portable)
        dup = (
            pos.groupBy("__gh")
            .agg(F.count("*").alias("__c"))
            .filter(F.col("__c") >= min_occurrences)
            .select("__gh")
        )
        hits = pos.join(dup, "__gh", "left_semi")
        if keep_first:
            # the keeper occurrence of each duplicated gram survives:
            # min(struct(id, pos)) is deterministic and computed on
            # the same shuffle key as the count
            keepers = (
                hits.groupBy("__gh")
                .agg(F.min(F.struct(id_col, "__pos")).alias("__k"))
                .select(
                    "__gh",
                    F.col(f"__k.{id_col}").alias(id_col),
                    F.col("__k.__pos").alias("__pos"),
                )
            )
            hits = hits.join(keepers, ["__gh", id_col, "__pos"], "left_anti")
        # the span table is duplicate-volume-sized (small next to the
        # corpus) and is consumed TWICE in until_clean mode — once by
        # the convergence probe, once by the excision join — while its
        # plan costs two full gram scans; an eager localCheckpoint
        # materializes it once and truncates the round's lineage
        # (measured: the 60M-token smoke's fixpoint dropped 230 s →
        # 174 s ≈ remove-1 (98 s) + one clean detection pass (53 s))
        spans = _merge_hit_positions(hits, span_tokens, id_col)
        if until_clean:
            spans = _truncate_round(
                spans, checkpoint_dir, f"spans_{rounds % 2}", eager=True
            )
            # the eager probe materialized this round's input frame,
            # so the PREVIOUS round's blocks are now unreferenced —
            # release them (reliable mode has no blocks to free)
            for f in prev_frames:
                _local_ck_release(f)
            prev_frames = []
            if spans.isEmpty():
                if manifests:
                    # convergence marker: a resume of a drained run
                    # returns the newest docs slot without recomputing
                    # the clean detection pass
                    _manifest_write(
                        spark, checkpoint_dir, rounds,
                        {"op": _OP, "params": params, "seq": rounds,
                         "done": True},
                    )
                break
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"remove_repeated_spans did not converge in {max_rounds} "
                "rounds — junction residuals keep re-forming; raise "
                "max_rounds or re-examine span_tokens"
            )
        # _excise_spans also truncates lineage between rounds: each
        # round references the previous round's text through the gram
        # scan twice AND the excision join; an untruncated loop
        # widens the plan per round
        prev_cur = cur
        cur, audit_removed = _excise_spans(
            cur, spans, text_col, id_col, audit_removed,
            checkpoint_dir, f"docs_{rounds % 2}",
        )
        if manifests:
            # the docs slot write above is the round's durable commit;
            # recording it AFTER guarantees the manifest never points
            # at a slot that isn't fully on disk
            _manifest_write(
                spark, checkpoint_dir, rounds,
                {"op": _OP, "params": params, "seq": rounds, "done": False},
            )
        if not until_clean:
            break
        # rounds == 1's prev_cur is the caller's input — never ours
        # to unpersist; later rounds' came from _excise_spans
        prev_frames = [spans] + ([prev_cur] if rounds > 1 else [])

    return _finalize_span_audit(cur, text_col)


def _excise_spans(
    cur: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
    audit_removed,
    checkpoint_dir: str | None = None,
    slot: str = "docs_0",
    truncate: bool = True,
) -> tuple[DataFrame, "Column"]:
    """One excision round of the span remover: join the merged spans
    back, cut covered token positions with a JVM filter-with-index,
    accumulate the removed-count audit, truncate lineage (lazy
    localCheckpoint, or the ``slot`` parquet under ``checkpoint_dir``
    in reliable mode). Returns the updated frame and the running audit
    column (``__cum_removed``).

    ``truncate=False`` skips the lineage cut and returns the lazy
    plan: single-round callers that UNION several excisions over one
    shared gram scan need them compiled in ONE query execution —
    a lazy localCheckpoint per branch splits the compilation and
    Catalyst's ReuseExchange can no longer share the scan
    (q_span_removal's shared-agg shape)."""
    span_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_begin", "span_end")).alias("__spans")
    )
    staged = cur.join(span_arr, id_col, "left").withColumn(
        "__toks", F.split(F.trim(F.col(text_col)), r"\s+")
    )
    kept_toks = F.filter(
        "__toks",
        lambda x, i: ~F.exists(
            "__spans",
            lambda s: (s["span_begin"] <= i) & (i < s["span_end"]),
        ),
    )
    touched = F.col("__spans").isNotNull()
    n_removed = F.when(
        touched, F.size("__toks") - F.size(kept_toks)
    ).otherwise(F.lit(0)).cast("long")
    new_text = F.when(
        touched, F.array_join(kept_toks, " ")
    ).otherwise(F.col(text_col))
    out = (
        staged.withColumn("__round_removed", n_removed)
        .withColumn(text_col, new_text)
        .drop("__spans", "__toks")
    )
    out = out.withColumn(
        "__cum_removed", audit_removed + F.col("__round_removed")
    ).drop("__round_removed")
    if not truncate and checkpoint_dir is None:
        return out, F.col("__cum_removed")
    return (
        _truncate_round(out, checkpoint_dir, slot, eager=False),
        F.col("__cum_removed"),
    )


def _finalize_span_audit(cur: DataFrame, text_col: str) -> DataFrame:
    """Rename the running removal audit to its public name and attach
    the non-empty kept-token count. A prior invocation's audit
    columns (chained curation re-runs the remover on its own output)
    are dropped first — the audit is per-invocation; without the drop
    the rename would create DUPLICATE column names that poison every
    downstream reference with ambiguity errors."""
    cur = cur.drop("n_tokens_removed", "n_tokens_kept")
    if "__cum_removed" in cur.columns:
        cur = cur.withColumnRenamed("__cum_removed", "n_tokens_removed")
    else:
        cur = cur.withColumn("n_tokens_removed", F.lit(0).cast("long"))
    kept = F.size(
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
        )
    ).cast("long")
    return cur.withColumn("n_tokens_kept", kept)


def _shingles(text: Column, n: int | None) -> Column:
    """Distinct word-level shingles; n=None → unigrams (token set).

    N-grams are built by zipping ``n`` shifted slices of the token
    array rather than ``transform(positions, slice(...))``: a lambda
    that captures the un-staged split expression makes codegen
    re-tokenize the text once per position — O(len²) per document,
    measured 6× slower on the sf0.1 corpus. Documents shorter than
    ``n`` tokens yield an empty shingle set (slice length clamps to 0);
    blank/whitespace-only documents yield an empty set in the unigram
    path too (only-phantom guard below), so no shingle width ever
    gives every blank doc one shared signature.
    """
    toks = F.split(F.trim(text), r"\s+")
    if n is None or n == 1:
        arr = F.array_distinct(toks)
        # blank/whitespace-only text splits to [""] (space-only trim +
        # \s+), so without this guard every blank doc in a corpus
        # shares the singleton {""} token set — ONE real signature,
        # ONE LSH bucket, a quadratic candidate clique at crawl scale:
        # the unigram twin of the all-NULL-band fix (round 12), which
        # only covered n >= 2 where the slice clamp already yields [].
        # Only the ONLY-phantom set is emptied; docs with any real
        # token keep the phantom element, so their signatures (and
        # every committed oracle hash) are unchanged.
        return F.when(
            F.size(F.array_remove(arr, "")) == 0,
            F.array().cast("array<string>"),
        ).otherwise(arr)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(acc)


def _py_shingles(t: str, n: int | None) -> set[str]:
    """Python mirror of :func:`_shingles`' DISTINCT shingle set —
    same space-only trim + ASCII ``\\s+`` split (phantom leading
    empty token preserved so ``n >= 2`` grams match the JVM zip),
    same only-phantom blank-doc guard on the unigram path, same
    empty set for docs shorter than ``n`` tokens. Shared by the
    Arrow signature kernel and the Arrow Jaccard shingle kernel so
    one definition carries the (differentially pin-tested)
    equivalence to the expression form."""
    from .text import _ascii_ws_split

    toks = _ascii_ws_split(t, keep_empty=True)
    if n is None or n == 1:
        grams = set(toks)
        if not grams - {""}:
            # mirror _shingles' only-phantom guard: a blank doc's
            # {""} set is empty, so its signature is NULL — not
            # the one shared value every blank doc would band on
            grams = set()
        return grams
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


_H2_MOD = 2**55  # keeps h1 + i·h2 < 2^63 for i ≤ 64 (ANSI-safe)


def _minhash_meta(num_hashes: int, shingle: int | None) -> dict:
    """Schema metadata stamped on every ``sig_i`` column: the hash
    family, permutation count, and — the one parameter NO column
    shape can reveal — the shingle width the signatures were built
    with. Signatures of different widths live in the same bigint
    space, so an unchecked ``shingle`` mismatch between a stored
    :func:`minhash_index` and a later :func:`neardup_against` call
    degrades the Jaccard estimator to noise — silently missed
    duplicates, the same failure class the gram/embedding indexes
    guard against. ``shingle=None`` and ``shingle=1`` are the same
    unigram construction and canonicalize to 1."""
    return {
        "family": "km_md5_v1",
        "num_hashes": num_hashes,
        "shingle": int(shingle) if shingle else 1,
    }


def _stamp_sig_cols(df: DataFrame, num_hashes: int, shingle: int | None) -> DataFrame:
    meta = _minhash_meta(num_hashes, shingle)
    return df.select(
        *[
            F.col(c).alias(c, metadata=meta) if c.startswith("sig_") else c
            for c in df.columns
        ]
    )


def stamp_minhash_index(
    df: DataFrame, num_hashes: int, shingle: int | None = None
) -> DataFrame:
    """Attach signature metadata to an externally produced index
    frame (schema rebuilt without metadata). The caller asserts the
    parameters — the values themselves cannot be distinguished."""
    return _stamp_sig_cols(df, num_hashes, shingle)


def _check_minhash_meta(
    df: DataFrame, num_hashes: int, shingle: int | None, what: str
) -> None:
    """Fail loudly when a signature frame was built with different
    parameters than the caller now claims (see :func:`_minhash_meta`)."""
    if "sig_0" not in df.columns:
        raise ValueError(
            f"{what} has no sig_0 column — not a MinHash signature "
            f"frame (columns: {df.columns})"
        )
    want = _minhash_meta(num_hashes, shingle)
    meta = dict(df.schema["sig_0"].metadata or {})
    got = {k: meta.get(k) for k in want}
    if got["family"] is None:
        raise ValueError(
            f"{what} carries no signature metadata on sig_0 — it was "
            "built outside minhash_signature()/minhash_index() (or "
            "the schema was rebuilt without metadata). Rebuild it, or "
            "assert its provenance with stamp_minhash_index(df, "
            "num_hashes, shingle); matching blindly would read a "
            "shingle/width mismatch as a near-zero Jaccard estimate "
            "(silently missed duplicates)."
        )
    if got != want:
        raise ValueError(
            f"{what} was built with {got} but this call asks for "
            f"{want} — mismatched signatures estimate noise, not "
            "Jaccard. Pass the values the index was built with."
        )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    shingle: int | None = None,
) -> DataFrame:
    """Attach ``sig_0..sig_{k-1}`` MinHash columns (bigint).

    One md5 per shingle; the k permutations come from
    Kirsch–Mitzenmacher double hashing ``g_i = h1 + i·h2`` over the
    two 60-bit halves of the digest — a valid MinHash family at 1/k
    of the hashing cost, engine-portable (DuckDB parses the same hex
    substrings), one narrow pass, no shuffle. The ``sig_i`` fields
    carry the family/width parameters as schema metadata
    (:func:`_minhash_meta`) so the incremental path can verify a
    stored index matches the call.
    """
    if num_hashes > 64:
        raise ValueError("num_hashes > 64 would overflow bigint in g_i = h1 + i*h2")
    # materialize shingle/h1/h2 arrays in their own projections: each
    # is referenced by several downstream expressions, and inlining
    # would recompute the tokenize/md5 work per reference (Catalyst's
    # CollapseProject keeps a non-cheap alias that is referenced more
    # than once as a separate project)
    staged = (
        df.withColumn("__shingles", _shingles(F.col(text_col), shingle))
        .withColumn(
            "__md5", F.transform(F.col("__shingles"), lambda w: F.md5(w))
        )
        .withColumn(
            "__h1",
            F.transform(
                F.col("__md5"),
                lambda x: F.conv(F.substring(x, 1, 15), 16, 10).cast("bigint"),
            ),
        )
        .withColumn(
            "__h2",
            F.transform(
                F.col("__md5"),
                lambda x: F.pmod(
                    F.conv(F.substring(x, 17, 15), 16, 10).cast("bigint"),
                    F.lit(_H2_MOD),
                ),
            ),
        )
    )

    def km(i: int):
        # closure factory: late-binding of the loop var inside the
        # zip_with lambda would alias every i to the last value
        return lambda a, b: a + F.lit(i) * b

    cols = {}
    for i in range(num_hashes):
        cols[f"sig_{i}"] = F.array_min(F.zip_with("__h1", "__h2", km(i)))
    out = staged.withColumns(cols).drop("__shingles", "__md5", "__h1", "__h2")
    return _stamp_sig_cols(out, num_hashes, shingle)


def minhash_signature_arrow(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    shingle: int | None = None,
) -> DataFrame:
    """:func:`minhash_signature` as ONE Arrow kernel — bit-identical
    signatures (same md5 halves, same Kirsch-Mitzenmacher
    ``g_i = h1 + i*h2``, same trim + ASCII-``\\s+`` tokenization with
    the phantom leading empty token, same only-phantom blank-doc
    guard; the differential test pins every column equal across
    null/empty/short-doc edges).

    Why it exists (round 9): the expression form stages its arrays,
    but ``transform``/``zip_with`` are CodegenFallback — at 900k
    60-token docs x 16 hashes the signature projection alone measured
    11.4 s interpreted vs ~3 s for this kernel. Same decision rule as
    the Gopher family and the stateless decontamination flag: per-row
    kernels with real per-element work belong in ArrowEvalPython.
    The expression form remains the engine-portable oracle shape
    (the DuckDB twin parses the same hex substrings).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if num_hashes > 64:
        raise ValueError("num_hashes > 64 would overflow bigint in g_i = h1 + i*h2")
    k = num_hashes
    n = shingle
    ii = np.arange(k, dtype=np.int64)

    def one(t):
        if t is None:
            return (None,) * k
        grams = _py_shingles(t, n)
        if not grams:
            return (None,) * k  # array_min over no shingles is null
        h1 = np.empty(len(grams), dtype=np.int64)
        h2 = np.empty(len(grams), dtype=np.int64)
        for j, g in enumerate(grams):
            x = hashlib.md5(g.encode("utf-8")).hexdigest()
            h1[j] = int(x[:15], 16)
            h2[j] = int(x[16:31], 16) % _H2_MOD
        return tuple(
            int(v) for v in (h1[None, :] + ii[:, None] * h2[None, :]).min(axis=1)
        )

    schema = ", ".join(f"sig_{i} long" for i in range(k))

    @pandas_udf(schema)
    def _sig(s):
        # dtype=object: a batch mixing None rows with int rows would
        # otherwise coerce the sig columns to float64, which rounds
        # 60-bit values (2^56-scale doubles step by 8) — the
        # differential test catches exactly this
        return pd.DataFrame(
            [one(t) for t in s],
            columns=[f"sig_{i}" for i in range(k)],
            dtype=object,
        )

    tmp = "__mh"
    while tmp in df.columns:
        tmp += "_"
    out = df.withColumn(tmp, _sig(F.col(text_col))).select(
        *df.columns, f"{tmp}.*"
    )
    return _stamp_sig_cols(out, num_hashes, shingle)


def lsh_bands(
    df_with_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Band the signature: (id, band_idx, band_hash) rows.

    Docs sharing any (band_idx, band_hash) are near-dup candidates.

    Signature-less docs (empty/blank text, or shorter than the
    shingle width — their MinHash columns are NULL because there are
    no shingles to hash) emit NO bands: Jaccard against an empty
    shingle set is undefined, exact dedup already handles
    byte-identical empties, and hashing the NULLs would band every
    such doc into ONE shared bucket — at crawl scale a
    boilerplate-stripped empty-doc population becomes a single
    quadratic candidate clique (and a false all-pairs "near-dup"
    verdict). Caught by the round-12 edge-corpus oracle twins.

    PIPELINE ORDER (round-13 advisor note): because signature-less
    docs emit no bands, near-dup ALONE no longer collapses
    byte-identical empty/blank documents (pre-round-12 they collided
    through the accidental shared NULL bucket). Run exact dedup
    (:func:`dedup_exact` / :func:`dedup_against` on the md5 digest)
    in front — the standard cascade order — so identical empties are
    collapsed before banding.
    """
    df_with_sigs = df_with_sigs.filter(F.col("sig_0").isNotNull())
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        # explicit string cast: sigs are bigint and ANSI concat_ws
        # wants strings; decimal formatting matches DuckDB's VARCHAR cast
        sig_cols = [
            F.col(f"sig_{b * band_size + j}").cast("string")
            for j in range(band_size)
        ]
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *sig_cols)).alias("band_hash"),
            )
        )
    return (
        df_with_sigs.select(id_col, F.explode(F.array(*bands)).alias("band"))
        .select(id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_hash").alias("band_hash"))
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", max_bucket: int | None = 4096
) -> DataFrame:
    """Self-join the band table → distinct candidate (id_a, id_b) pairs
    with id_a < id_b.

    Skew guard: a degenerate corpus (many identical docs) collapses
    into one (band_idx, band_hash) bucket, making a single task do
    O(m²) work. With ``max_bucket`` set, buckets of size m are split
    into g = ceil(m / max_bucket) salt groups by an id hash; the left
    side is replicated across the g partner salts so the SAME pair set
    comes out of g co-partitioned join groups of ~m²/g work each —
    semantics identical, straggler gone, replication only where the
    bucket is actually oversized (g = 1 elsewhere). ``max_bucket=None``
    restores the plain equi-join.
    """
    if max_bucket is None:
        a = bands.select(
            F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_a")
        )
        b = bands.select(
            F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_b")
        )
        return (
            a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    # bucket size via a window count (not groupBy+self-join): both join
    # branches below then share ONE shuffle of the band table — Spark's
    # ReuseExchange collapses the identical child, so the (expensive)
    # shingle→md5 banding upstream is evaluated once, not per branch
    from pyspark.sql import Window

    sized = bands.withColumn(
        "__m",
        F.count("*").over(Window.partitionBy("band_idx", "band_hash")),
    )
    g = F.greatest(
        F.lit(1), F.ceil(F.col("__m") / F.lit(max_bucket))
    ).cast("int")
    salt = F.pmod(F.xxhash64(F.col(id_col)), g).cast("int")
    a = sized.select(
        "band_idx",
        "band_hash",
        F.col(id_col).alias("id_a"),
        F.explode(F.sequence(F.lit(0), g - 1)).alias("__salt"),
    )
    b = sized.select(
        "band_idx", "band_hash", F.col(id_col).alias("id_b"), salt.alias("__salt")
    )
    return (
        a.join(b, ["band_idx", "band_hash", "__salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    check_every: int = 2,
    checkpoint_dir: str | None = None,
    broadcast_nodes: int = 2_000_000,
    driver_edges: int = 2_000_000,
    resume: bool = False,
) -> DataFrame:
    """Transitively close near-duplicate pairs into clusters.

    LSH/Jaccard emit *pairs*; curation needs *groups* (keep one doc
    per connected component). This is connected components by min-label
    propagation: every node starts labeled with its own id, then each
    round takes the min of its label and its neighbors' labels until a
    fixpoint — the final label is the minimum id reachable from the
    node, a deterministic canonical cluster id.

    Scale shape (hash-to-min): each round does (a) a neighbor-min —
    one shuffle join of the symmetrized edge list against the label
    table plus a min-aggregation, (b) a hub-min — members of the same
    label-star exchange their minima *through the hub* via a groupBy
    on the current label, and (c) a pointer jump on the updated table
    (``label := label(label)``). Hub exchange + jump percolate the
    component minimum exponentially, so even high-diameter components
    (LSH false-positive chains) converge in O(log n) rounds, not
    O(diameter) — measured 6 rounds on a 4.5k-node giant-component
    corpus where plain propagation hadn't converged after 30. No
    driver-side graph, no adjacency materialization.

    Iteration mechanics: label lineage is truncated every round (a
    round references its input eight times — through nbr, hub and
    jump — so an un-truncated round would widen the analyzed plan 8×),
    and convergence is only counted once per ``check_every``-sized
    window. With ``checkpoint_dir=None`` truncation is a lazy
    ``localCheckpoint`` and the window's convergence count is the
    single driver action that materializes (and block-persists) every
    round in the window — executor-local blocks are cheapest, but a
    lost executor kills the job mid-iteration; the right default on a
    single-node session or when a rerun is acceptable. On a large
    cluster pass ``checkpoint_dir``: every round's label table is
    written to that reliable storage (alternating scratch parquet
    paths, as is the symmetrized edge list once) so executor loss
    replays at most one round from durable state, and on check rounds
    the changed-row count rides the write job as an observed metric
    instead of costing a second full scan. Exponential percolation
    makes per-round convergence checks mostly wasted — a window runs
    at worst ``check_every - 1`` extra cheap rounds past the
    fixpoint.

    Small-graph fast path (``driver_edges``): the pair graph is NOT
    the corpus — it is the near-dup candidate subset, and at bench
    and most production scales it is parameter-sized (thousands to
    low millions of edges). Every distributed round costs a fixed
    handful of jobs regardless of size, so on a 3.6k-edge graph the
    round loop is pure fixed overhead (measured ~9.6 s for ~6 rounds
    at sf0.1 — vs milliseconds of actual work). When the symmetrized
    edge count — read off the count job that materializes the edge
    checkpoint — is within
    ``driver_edges`` canonical edges, the component labeling runs as
    ONE driver-side union-find over the already-materialized edge
    blocks (min-id per component: exactly the distributed fixpoint's
    labels, pinned by ``test_duplicate_clusters_driver_matches_``
    ``distributed``) and the round loop never runs. The bound keeps
    driver memory explicit — the edge frame rides Arrow (~16 B/edge)
    and the union-find dict dominates at ~100 B/node, a few hundred
    MB at the default bound (measured: 1.8M edges / 2.7M nodes label
    in 24 s total vs ~59 s distributed at the same scale — the
    crossover is well above the bound); above it — LSH
    false-positive storms, billion-edge fleets — the distributed
    rounds run as before. ``driver_edges=0`` forces the distributed
    path (the non-convergence test pins its loudness there).

    Near-dup graphs are *sparse*: the label table holds one row per
    node that appears in any pair — typically orders of magnitude
    smaller than the corpus. When the seed round's node count is
    ≤ ``broadcast_nodes``, the per-round dimension sides (labels,
    neighbor-min, hub-min, jump table) are broadcast-hinted, turning
    every round's joins map-side over the cached edge list — no SMJ
    sort of the edges each round (measured 1.7× on the round loop).
    Checkpointed tables carry no catalyst stats, so without the hint
    Spark can't pick the broadcast on its own. Above the threshold
    (billion-node fleets) rounds keep the shuffle-join path, the
    correct plan there. The node count is read off the already-
    materialized seed table, so the gate costs one tiny count job.

    Returns (id, cluster_id) for every node that appears in ``pairs``
    (singletons are by definition absent).

    DIRECTORY LIFETIME: in reliable mode the returned labels lazily
    READ the live scratch parquet under ``checkpoint_dir`` — the
    directory must outlive full consumption of the result; a
    sequential second call reusing it overwrites the slots an earlier
    unmaterialized result still reads. One directory per concurrent
    call.

    DRIVER-LOSS RESUME (round 13): reliable mode records each
    completed propagation round in an alternating one-row manifest
    (written AFTER the round's label-slot write). ``resume=True``
    reads the newest readable manifest, validates it was written by
    this operator, re-reads the symmetrized edge list from the
    directory's ``sym`` slot (the caller's ``pairs`` is used only for
    the session — edges are already durable) and continues the rounds
    from the recorded label slot; a converged (``done``) manifest
    returns the final labels without recomputation. No readable
    manifest → fresh run, so ``resume=True`` is the always-safe
    restart idiom. A run that took the driver union-find fast path
    writes no manifests (its rerun costs one collect). The crashed
    run's ``max_iter``/``check_every`` may differ across a resume —
    loop control, not state semantics.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if check_every < 1:
        # 1 = check every round; 0 would be a modulo-by-zero mid-loop
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    if resume and checkpoint_dir is None:
        raise ValueError(
            "resume=True requires checkpoint_dir (the durable slots "
            "ARE the resume state)"
        )

    spark = pairs.sparkSession
    _OP = "duplicate_clusters"

    def _truncate(df: DataFrame, slot: str) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = f"{checkpoint_dir.rstrip('/')}/{slot}"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    manifest = (
        _manifest_read_latest(spark, checkpoint_dir) if resume else None
    )
    if manifest is not None:
        _manifest_validate(manifest, _OP, {})
        if manifest.get("slot") is None:
            # an entry marker: the recorded run died before its seed
            # committed, or took the driver fast path (which writes no
            # label slots) — nothing to resume, start fresh
            manifest = None
    if manifest is not None:
        base = checkpoint_dir.rstrip("/")
        sym = spark.read.parquet(f"{base}/sym")
        labels = spark.read.parquet(f"{base}/{manifest['slot']}")
        if "new_label" in labels.columns:
            # round slots persist the pre-rename (id, label, new_label)
            # shape; the seed slot is already (id, label)
            labels = labels.select(
                "id", F.col("new_label").alias("label")
            )
        if manifest.get("done"):
            return labels.select("id", F.col("label").alias("cluster_id"))
        n_nodes = manifest["n_nodes"]
        start_it = manifest["seq"]
        n_writes = manifest["n_writes"]
        return _cc_rounds(
            sym, labels, n_nodes, start_it, n_writes, max_iter,
            check_every, broadcast_nodes, checkpoint_dir, _truncate,
        )

    if checkpoint_dir is not None:
        # invalidate BOTH manifest slots at entry (slot=None entry
        # markers), BEFORE any state write: a run from a previous use
        # of this directory must never be resumable against THIS
        # run's sym slot — including when this run takes the driver
        # fast path below and writes no label slots at all (round-13
        # review finding). The distributed path re-stamps with the
        # real seed manifest after the seed commits.
        for s in (0, 1):
            _manifest_write(
                spark, checkpoint_dir, s,
                {"op": _OP, "params": {}, "seq": 0, "slot": None,
                 "n_writes": 0, "n_nodes": 0, "done": False},
            )

    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct()
    # The edge list is the one table here whose size is NOT bounded by
    # the node count — dense candidate graphs (LSH false-positive storms
    # on boilerplate-heavy corpora) reach 10^8-10^9 edges. Stored
    # deserialized (the localCheckpoint default) that is tens of GB of
    # row objects and OOMs the executors before MEMORY_AND_DISK can
    # spill (measured: 532M candidate pairs -> 1.06B symmetrized edges
    # killed a 100 GB local heap). Serialized MEMORY_AND_DISK keeps the
    # blocks at ~wire size and spills cleanly; the per-round label
    # tables below stay on the default level — they are node-count-
    # sized and round-trip latency matters there.
    from pyspark import StorageLevel

    sym = (
        sym.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
        if checkpoint_dir is None
        else _truncate(sym, "sym")
    )

    # materialize sym and read the path gate's edge count off the same
    # job — on the fast path this is the ONLY full-corpus-side work
    # (the previous layout ran the distributed seed aggregation and
    # eagerly checkpointed a label table the fast path never used)
    m_sym = sym.count()
    if driver_edges and m_sym <= 2 * driver_edges:
        # driver union-find over the persisted canonical half of the
        # edge list: one Arrow collect, zero rounds; min id per
        # component == the distributed fixpoint's min reachable id.
        # Both transfers ride Arrow (toPandas / createDataFrame-from-
        # pandas) — a 445k-edge graph moves in ~100 ms each way where
        # pickled Row lists took seconds. `src <= dst` (not `<`)
        # keeps self-loop rows: a node whose only edge is (x, x)
        # appears in the distributed seed's node set, so the fast
        # path must label it too — the a == b arm seeds the node
        # without a union.
        import pandas as pd

        epdf = sym.filter(F.col("src") <= F.col("dst")).toPandas()
        if checkpoint_dir is None:
            # the edge blocks served their one purpose (the Arrow
            # collect); free them now instead of waiting on driver GC
            _local_ck_release(sym)
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(epdf["src"].to_list(), epdf["dst"].to_list()):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            if a != b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
        comp: dict = {}
        for node in parent:
            r = find(node)
            m = comp.get(r)
            if m is None or node < m:
                comp[r] = node
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema[id_a].dataType
        schema = StructType(
            [
                StructField("id", id_type, False),
                StructField("cluster_id", id_type, False),
            ]
        )
        nodes = list(parent)
        out = pd.DataFrame(
            {"id": nodes, "cluster_id": [comp[find(n)] for n in nodes]}
        )
        return pairs.sparkSession.createDataFrame(out, schema)

    # seed with min(self, neighbors) — the first propagation round for
    # free, computed on the same shuffle that builds the node set. The
    # broadcast-gate node count rides the seed materialization as an
    # observed metric: no separate full scan of the label table.
    from pyspark.sql import Observation

    seed_obs = Observation("cc_nodes")
    labels = _truncate(
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__nbr"))
        .select("id", F.least("id", "__nbr").alias("label"))
        .observe(seed_obs, F.count(F.lit(1)).alias("n")),
        "labels_seed",
    )
    try:
        n_nodes = seed_obs.get["n"]
    except Exception:
        # an EMPTY pair table (reachable here only with
        # driver_edges=0) runs the seed truncation as a zero-task
        # job, so the observed metric never materializes and .get
        # raises — fall back to a direct count on the persisted
        # frame. The fallback is ONLY legitimate in that zero-task
        # case: if the count comes back non-zero the metric should
        # have materialized, so re-raise the original error instead
        # of masking a real failure (a job error surfacing through
        # Observation) behind a silent recompute.
        n_nodes = labels.count()
        if n_nodes != 0:
            raise
    if checkpoint_dir is not None:
        # the seed is durable: replace the entry markers with the
        # first resumable manifest (seq 0 = seed complete)
        for s in (0, 1):
            _manifest_write(
                spark, checkpoint_dir, s,
                {"op": "duplicate_clusters", "params": {}, "seq": 0,
                 "slot": "labels_seed", "n_writes": 0,
                 "n_nodes": n_nodes, "done": False},
            )
    return _cc_rounds(
        sym, labels, n_nodes, 0, 0, max_iter, check_every,
        broadcast_nodes, checkpoint_dir, _truncate,
    )


def _cc_rounds(
    sym: DataFrame,
    labels: DataFrame,
    n_nodes: int,
    start_it: int,
    n_writes: int,
    max_iter: int,
    check_every: int,
    broadcast_nodes: int,
    checkpoint_dir: str | None,
    _truncate,
) -> DataFrame:
    """The hash-to-min propagation rounds of :func:`duplicate_clusters`
    from iteration ``start_it`` with ``labels`` as the current table —
    shared by the fresh path (start_it=0, the seed) and the
    driver-loss resume path (the manifest's recorded round)."""
    import warnings

    spark = sym.sparkSession
    hint = F.broadcast if n_nodes <= broadcast_nodes else (lambda df: df)
    changed = None
    # local-mode block hygiene: `live` is the last MATERIALIZED cut
    # (the seed, then each check round's table) — its blocks back
    # every in-flight plan until the next check round materializes;
    # `pending` holds the window's lazy cuts, all of which persist
    # when the window's count runs and all but the newest of which
    # are immediately stale. Released deterministically instead of
    # waiting on driver GC + the context cleaner (one label-table
    # copy per round otherwise rides executor storage to the end).
    pending: list[DataFrame] = []
    live = labels if checkpoint_dir is None else None
    for it in range(start_it, max_iter):
        nbr = (
            sym.join(
                hint(
                    labels.select(
                        F.col("id").alias("dst"), F.col("label").alias("dst_label")
                    )
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        l1 = labels.join(hint(nbr), labels["id"] == nbr["src"], "left").select(
            "id",
            "label",
            F.least("label", F.coalesce("nbr_label", "label")).alias("l1"),
        )
        # hub-min: all members of a label-star see each other's minimum
        # through the shared hub in one round
        hub = l1.groupBy("label").agg(F.min("l1").alias("hub_min"))
        l2 = l1.join(hint(hub), "label").select(
            "id", "label", F.least("l1", "hub_min").alias("l2")
        )
        # pointer jump on the UPDATED table: label := label(label)
        jump = l2.select(F.col("id").alias("l2"), F.col("l2").alias("j"))
        plan = l2.join(hint(jump), "l2", "left").select(
            "id",
            "label",
            F.least("l2", F.coalesce("j", "l2")).alias("new_label"),
        )
        is_check = (it + 1) % check_every == 0 or it == max_iter - 1
        if checkpoint_dir is None:
            # lazy truncation: the convergence count at the end of the
            # check window is the ONE driver action that materializes
            # (and block-persists) every round in the window — versus
            # one eager checkpoint job per round plus a separate count
            stepped = plan.localCheckpoint(eager=False)
            pending.append(stepped)
            if is_check:
                changed = stepped.filter(
                    F.col("new_label") != F.col("label")
                ).count()
                # the count materialized every cut in the window —
                # everything older than `stepped` is unreferenced now
                for f in pending[:-1]:
                    _local_ck_release(f)
                if live is not None:
                    _local_ck_release(live)
                live = stepped
                pending = []
        else:
            # reliable mode: EVERY round truncates to parquet (a round
            # references its input 8 times — via nbr, hub and jump —
            # so leaving rounds un-truncated would widen the analyzed
            # plan 8x per round; per-round durable truncation also
            # keeps executor-loss recovery transparent). The
            # changed-count rides the check-round write as an observed
            # metric instead of re-scanning the written table.
            # Alternate slot paths by write count so a write never
            # overwrites the parquet its own job is reading.
            if is_check:
                from pyspark.sql import Observation

                obs = Observation(f"cc_changed_{it}")
                stepped = _truncate(
                    plan.observe(
                        obs,
                        F.count(
                            F.when(F.col("new_label") != F.col("label"), 1)
                        ).alias("changed"),
                    ),
                    f"labels_{n_writes % 2}",
                )
                n_writes += 1
                changed = obs.get["changed"]
            else:
                stepped = _truncate(plan, f"labels_{n_writes % 2}")
                n_writes += 1
            # the slot write above is the round's durable commit; the
            # manifest recorded AFTER it is the driver-loss resume
            # point (a torn manifest only shadows superseded state —
            # its partner slot still points at intact parquet)
            _manifest_write(
                spark, checkpoint_dir, it + 1,
                {"op": "duplicate_clusters", "params": {}, "seq": it + 1,
                 "slot": f"labels_{(n_writes - 1) % 2}",
                 "n_writes": n_writes, "n_nodes": n_nodes, "done": False},
            )
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if is_check and changed == 0:
            if checkpoint_dir is not None:
                # convergence marker: resuming a drained run returns
                # the final labels without recomputation
                _manifest_write(
                    spark, checkpoint_dir, it + 1,
                    {"op": "duplicate_clusters", "params": {},
                     "seq": it + 1,
                     "slot": f"labels_{(n_writes - 1) % 2}",
                     "n_writes": n_writes, "n_nodes": n_nodes,
                     "done": True},
                )
            break
    if changed != 0:
        # partially-merged labels would silently disagree with an exact
        # connected-components oracle — make non-convergence loud
        warnings.warn(
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); cluster ids may be "
            "partially merged",
            RuntimeWarning,
            stacklevel=2,
        )
    if checkpoint_dir is None:
        # the returned frame derives only from the last check round's
        # cut; the edge list's serialized blocks are no longer needed
        _local_ck_release(sym)
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int | None = None,
) -> DataFrame:
    """Durable near-dup state for incremental ingest: the MinHash
    signature table ``(id, sig_0..sig_{k-1})`` — 8 B per hash, so
    ~128 B per doc at k=16, the only state an incremental crawl
    needs (the
    band table is a cheap narrow derivation via :func:`lsh_bands`,
    so it is NOT stored). Store partitioned/bucketed by id; union
    each surviving batch's index in to advance the state — the
    near-dup analogue of :func:`digest_index`. The ``sig_i`` fields
    carry family/num_hashes/shingle as schema metadata (stamped by
    :func:`minhash_signature`, parquet-round-tripped), which
    :func:`neardup_against` validates — a shingle-width mismatch
    against stored state otherwise reads as a near-zero Jaccard
    estimate, i.e. silently missed duplicates."""
    return minhash_signature(df, text_col, num_hashes, shingle).select(
        id_col, *[f"sig_{i}" for i in range(num_hashes)]
    )


def neardup_against(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle: int | None = None,
    threshold: float = 0.8,
    batch_sig: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup: drop batch documents whose estimated
    Jaccard against any previously-indexed document reaches
    ``threshold`` — the daily-crawl increment, without ever
    re-scanning (or even storing) the historical texts.

    Verification uses the signature-agreement ESTIMATOR (the
    fraction of matching MinHash components is an unbiased estimate
    of shingle Jaccard, σ ≈ √(J(1−J)/k) — ~0.1 at k=16, so the
    threshold is soft by that much; raise ``num_hashes`` for a
    sharper boundary). This is exactly what lets the state stay
    ~128 B/doc: candidates come from an equi-join of the batch's
    band table against bands derived from the stored signatures, and
    the estimate needs only the two signature rows. AQE's skew-join
    splitting covers hot boilerplate bands in the two-table join
    (the self-join salting of :func:`lsh_candidate_pairs` does not
    apply here).

    Returns the surviving batch rows. Exact-dup ingest
    (:func:`dedup_against`) composes in front; union the survivors'
    :func:`minhash_index` into the stored index afterwards.

    The stored index (and ``batch_sig`` when passed) must carry the
    signature metadata :func:`minhash_signature` stamps, and it must
    match this call's ``num_hashes``/``shingle`` — signatures of
    different shingle widths share the bigint space, so an unchecked
    mismatch estimates noise instead of Jaccard (silently missed
    duplicates); externally produced frames go through
    :func:`stamp_minhash_index` first."""
    _check_minhash_meta(index, num_hashes, shingle, "stored index")
    if batch_sig is not None:
        _check_minhash_meta(batch_sig, num_hashes, shingle, "batch_sig")
    names = [f"sig_{i}" for i in range(num_hashes)]
    # batch_sig: pass the batch's signatures when they are already in
    # hand (computed for the index advance, or shared with a same-run
    # self-join LSH pass) — the shingle→md5→minhash projection is the
    # expensive part of this operator, and recomputing it from text
    # doubles the batch-side scan work for nothing
    bsig = (
        batch_sig
        if batch_sig is not None
        else minhash_signature(batch, text_col, num_hashes, shingle)
    )
    bband = lsh_bands(bsig, id_col, num_hashes, band_size).select(
        F.col(id_col).alias("__bid"), "band_idx", "band_hash"
    )
    iband = lsh_bands(index, id_col, num_hashes, band_size).select(
        F.col(id_col).alias("__iid"), "band_idx", "band_hash"
    )
    cand = (
        bband.join(iband, ["band_idx", "band_hash"])
        .select("__bid", "__iid")
        .distinct()
    )
    bs = bsig.select(
        F.col(id_col).alias("__bid"), *[F.col(n).alias(f"__b{i}") for i, n in enumerate(names)]
    )
    isx = index.select(
        F.col(id_col).alias("__iid"), *[F.col(n).alias(f"__i{i}") for i, n in enumerate(names)]
    )
    est = sum(
        F.when(F.col(f"__b{i}") == F.col(f"__i{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    hits = (
        cand.join(bs, "__bid")
        .join(isx, "__iid")
        .withColumn("__est", est)
        .filter(F.col("__est") >= float(threshold))
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return batch.join(hits, id_col, "left_anti")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 10,
    out_col: str = "text_deduped",
    sep_re: str = "\n",
    join_sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level deduplication (the C4/RefinedWeb pass):
    every line that appears anywhere else in the corpus is kept only
    at its FIRST occurrence (smallest ``(doc_id, line_no)``) and
    removed everywhere else, then documents are reassembled in line
    order. Lines shorter than ``min_chars`` after trimming (bullets,
    blank separators, "Home") are exempt — dropping those would
    mangle unrelated documents that legitimately share them.

    Scale shape: no windows and no driver state. First-occurrence
    selection is ``groupBy(line).agg(min(struct(doc_id, pos)))`` — a
    map-side-combinable aggregation, so a line duplicated a million
    times (boilerplate headers) contributes one partial row per input
    partition, not a million shuffled rows; the keep-decision then
    comes back via an equi-join on the line (AQE skew-split handles
    hot lines). Reassembly is one aggregation by document. Three
    shuffles total, each on a natural key.

    Returns the input frame with ``out_col`` added (empty string if
    every line of a document was dropped; null text stays null).

    ``sep_re``/``join_sep`` generalize the unit: the default is
    line-level; ``sep_re=r"\\n{2,}", join_sep="\\n\\n"`` is
    PARAGRAPH-level dedup (the unit most template boilerplate
    repeats at), with blank-run separators normalized to one blank
    line on reassembly. Same plan either way.
    """
    # first-occurrence key: a (doc_id, pos) struct ordered
    # lexicographically — no packed-bigint id-range limit, min() over
    # structs is still map-side combinable
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias("__pos", "__line"),
    ).withColumn(
        "__at", F.struct(F.col(id_col).alias("d"), F.col("__pos").alias("p"))
    )
    eligible = F.length(F.trim(F.col("__line"))) >= min_chars
    first_occ = (
        lines.filter(eligible)
        .groupBy("__line")
        .agg(F.min("__at").alias("__keep_at"))
    )
    kept = (
        lines.join(first_occ, "__line", "left")
        .filter((~eligible) | (F.col("__at") == F.col("__keep_at")))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            join_sep,
        ).alias(out_col)
    )
    return df.join(rebuilt, id_col, "left").withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
            F.coalesce(F.col(out_col), F.lit(""))
        ),
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int | None = None,
    arrow: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    Pairs with no common shingle are omitted (the LSH candidate
    filter's job is exactly to make those rare).

    Round-6 shape: no shingle explode at all. The corpus is
    semi-join pruned to candidate members (at corpus scale the LSH
    candidate set is orders of magnitude smaller than the corpus),
    each candidate doc's DISTINCT shingle set is materialized once
    as an array column, and each pair joins its two arrays and
    scores ``|A∩B| / (|A|+|B|-|A∩B|)`` with ``array_intersect`` —
    per-pair work is the same O(|A|+|B|) the exploded equi-join paid,
    but without shuffling a corpus-sized (id, shingle) stream or
    aggregating per-pair counts: the only shuffles are the two
    id-keyed joins of the (small) pair list against the (pruned)
    shingle-array table, and the a-/b-side builds hang off the same
    hashpartitioning(id) subtree for ReuseExchange. AQE's skew-join
    splitting handles hub documents that appear in many pairs.

    ``arrow=True`` (round 14) builds the per-doc shingle arrays in
    ONE Arrow kernel instead of the ``zip_with``/``transform``
    expression tree — those HOFs are CodegenFallback, i.e.
    interpreted per element (the 413 s vs 18 s gap SCALE.md measured
    on the signature twin at 2M docs is this same tree). The kernel
    emits the SAME distinct shingle set (:func:`_py_shingles`,
    sorted — ``array_intersect``/``size`` are order-insensitive, so
    ``jaccard`` is bit-identical; pinned by
    ``test_jaccard_pairs_arrow_matches_expression_form``), and the
    JVM expression form stays the engine-portable oracle shape. The
    kernel is marked nondeterministic purely so the optimizer cannot
    clone the ArrowEvalPython under pushed filters (guide §4.4 —
    the same lever as the repetition_stats/ANN kernels), and the
    shingle table is lazily ``localCheckpoint``ed so the a-/b-sides
    of the pair join read the SAME materialization instead of each
    re-running the kernel + semi-join (the self-join subtree-reuse
    the expression form got from canonical equality is not available
    to a nondeterministic kernel — measured 2.4-3.0 s → 2.0-2.1 s at
    sf0.1, every interleaved rep faster, kernel evals 2 → 1).
    """
    cand_ids = (
        pairs.select(
            F.explode(F.array("id_a", "id_b")).alias(id_col)
        ).distinct()  # one pass over the pair list, not a 2-scan union
    )
    if arrow:
        from pyspark.sql.functions import pandas_udf

        n = shingle

        @pandas_udf("array<string>")
        def _ws_kern(s):
            return s.map(
                lambda t: None if t is None else sorted(_py_shingles(t, n))
            )

        ws_col = _ws_kern.asNondeterministic()(F.col(text_col))
    else:
        ws_col = _shingles(F.col(text_col), shingle)
    ws = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), ws_col.alias("ws"))
    )
    if arrow:
        # one kernel pass feeding both join sides (see docstring)
        ws = ws.localCheckpoint(eager=False)
    a = ws.select(F.col(id_col).alias("id_a"), F.col("ws").alias("ws_a"))
    b = ws.select(F.col(id_col).alias("id_b"), F.col("ws").alias("ws_b"))
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ws_a", "ws_b")).alias("n_inter"),
            (F.size("ws_a") + F.size("ws_b")).alias("n_tot"),
        )
    )
    return scored.filter(F.col("n_inter") >= 1).select(
        "id_a",
        "id_b",
        (F.col("n_inter") / (F.col("n_tot") - F.col("n_inter"))).alias(
            "jaccard"
        ),
    )
