"""Text analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in column expressions (regex, split,
md5) — JVM-side, codegen-friendly, no Python workers — so a 100 TB
documents table is one scan with map-side-only work. The exceptions
are Arrow-batched kernels, never row-at-a-time Python:
:func:`simhash16_arrow_udf` (replaces 16 per-row aggregate
expressions), and the per-document repetition metrics
:func:`gopher_repetition` and :func:`repetition_stats` (higher-order
array expressions are CodegenFallback — see gopher_repetition's
docstring for the measured three-way comparison).
"""

from __future__ import annotations

import re as _re_mod

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ASCII whitespace class — what Java regex and RE2 mean by ``\s``.
#: Python's unicode-aware ``str.split``/``\s`` additionally splits on
#: NBSP / U+2028 etc., which an engine-portable kernel must not.
_ASCII_WS_RE = _re_mod.compile(r"[ \t\n\r\f\v]+")


def _ascii_ws_split(t: str, keep_empty: bool = False) -> list[str]:
    """Space-only trim + ASCII ``\\s+`` split — the exact
    tokenization of the SQL twins (``trim`` in DuckDB strips spaces
    only; ``string_split_regex '\\s+'`` is RE2/ASCII). ``keep_empty``
    preserves the phantom leading empty token a tab/newline-initial
    string produces, which the historical bigram SQL counts."""
    parts = _ASCII_WS_RE.split(t.strip(" "))
    return parts if keep_empty else [w for w in parts if w]

#: tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic; deterministic and language-representative, not exhaustive
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "nicht", "mit", "ist", "ein"],
    "es": ["el", "la", "los", "que", "de", "y", "en", "un"],
    "fr": ["le", "la", "les", "et", "de", "un", "est", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(_tokens(text))
    )


def char_class_counts(text: Column) -> dict[str, Column]:
    """Counts of uppercase / digit / punctuation characters via
    regexp_replace — one pass per class, all codegen."""
    return {
        "n_upper": F.length(text) - F.length(F.regexp_replace(text, r"[A-Z]", "")),
        "n_digit": F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", "")),
        "n_punct": F.length(text)
        - F.length(F.regexp_replace(text, r"[.,;:!?]", "")),
    }


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach length/punctuation/stopword quality features.

    Heuristics in the spirit of C4/Gopher quality filtering: doc
    length, mean word length, punctuation & digit ratios, stopword
    ratio against an English stoplist.

    The token array is materialized once into an intermediate column
    (a separate projection) so the regex split isn't re-evaluated per
    feature — the dominant cost on long documents.
    """
    t = F.col(text_col)
    counts = char_class_counts(t)
    stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])

    staged = df.withColumn("__toks_l", _tokens(F.lower(t))).withColumn(
        "__ntok",
        F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(F.col("__toks_l"))),
    )
    ntok = F.col("__ntok")
    n_stop = F.size(
        F.filter(F.col("__toks_l"), lambda w: F.array_contains(stop_arr, w))
    )
    return (
        staged.withColumn("n_chars_m", F.length(t))
        .withColumn("n_tokens", ntok)
        .withColumn(
            "mean_word_len",
            F.when(ntok > 0, F.length(F.regexp_replace(t, r"\s+", "")) / ntok),
        )
        # try_divide: an EMPTY document has length 0, and under ANSI
        # mode a plain division kills the whole job on the first
        # empty doc a crawl batch contains (caught by the edge-corpus
        # oracle twins, round 12) — the ratios are NULL there, the
        # same convention as mean_word_len/stopword_ratio
        .withColumn("upper_ratio", F.try_divide(counts["n_upper"], F.length(t)))
        .withColumn("digit_ratio", F.try_divide(counts["n_digit"], F.length(t)))
        .withColumn("punct_ratio", F.try_divide(counts["n_punct"], F.length(t)))
        .withColumn("stopword_ratio", F.when(ntok > 0, n_stop / ntok))
        .drop("__toks_l", "__ntok")
    )


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts (language-ID heuristic)."""
    toks = _tokens(F.lower(text))
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[f"score_{lang}"] = F.size(
            F.filter(toks, lambda w: F.array_contains(arr, w))
        )
    return out


#: Unicode script blocks for script-level language ID — (lo, hi)
#: codepoint ranges; class strings are built with LITERAL characters,
#: which parse identically in Java regex (Spark) and RE2 (DuckDB), so
#: one expression serves both engines.
SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    "latin": [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F)],
    "cyrillic": [(0x400, 0x4FF)],
    "greek": [(0x370, 0x3FF)],
    "arabic": [(0x600, 0x6FF)],
    "hebrew": [(0x590, 0x5FF)],
    "devanagari": [(0x900, 0x97F)],
    "thai": [(0xE00, 0xE7F)],
    "kana": [(0x3040, 0x30FF)],
    "hangul": [(0x1100, 0x11FF), (0xAC00, 0xD7AF)],
    "cjk": [(0x3400, 0x4DBF), (0x4E00, 0x9FFF)],
}


def script_class(script: str) -> str:
    """Character-class regex for one script, literal-char form
    (engine-portable: Java regex and RE2 parse it identically)."""
    return "[" + "".join(
        f"{chr(lo)}-{chr(hi)}" for lo, hi in SCRIPT_RANGES[script]
    ) + "]"


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script character counts (``n_latin``, ``n_cjk``, …) via the
    regexp_replace length-diff trick — one codegen pass per script,
    no tokenization. The writing-system signal stopword lists cannot
    give: a Russian or Chinese document scores zero on every Latin
    stoplist but lights up its script range."""
    return {
        f"n_{s}": F.length(text)
        - F.length(F.regexp_replace(text, script_class(s), ""))
        for s in SCRIPT_RANGES
    }


def detect_script(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax script per document (``script_pred``): highest character
    count, ties to the alphabetically last script name (same
    deterministic rule as :func:`detect_language`), 'und' when no
    script character occurs at all."""
    counts = script_counts(F.col(text_col))
    df = df.withColumns(counts)
    pairs = F.array(
        *[
            F.struct(F.col(f"n_{s}").alias("s"), F.lit(s).alias("l"))
            for s in sorted(SCRIPT_RANGES)
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["s"] > 0))
    return df.withColumn("script_pred", F.coalesce(best["l"], F.lit("und")))


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax of language stopword scores with deterministic
    (alphabetical) tie-break; 'und' (undetermined) when no hits."""
    scores = language_scores(F.col(text_col))
    df = df.withColumns(scores)
    langs = sorted(LANG_STOPWORDS)
    pairs = F.array(
        *[F.struct(F.col(f"score_{l}").alias("s"), F.lit(l).alias("l")) for l in langs]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["s"] > 0))
    # array_max on structs orders by (s, l); ties pick the
    # lexicographically largest lang — invert for a stable, documented
    # rule: highest score, then alphabetically last
    return df.withColumn("lang_pred", F.coalesce(best["l"], F.lit("und")))


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set (word-shingle content signature)."""
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens(text))))
    return F.md5(canon)


def _parity_masks(hashes: Column) -> Column:
    """Per-digest nibble-parity masks: the low bit of each of the
    first 16 hex digits, kept in place as two 32-bit masks
    (``v & 0x11111111``) — 2 hex parses per token instead of 16
    substring probes."""
    return F.transform(
        hashes,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10)
            .cast("bigint")
            .bitwiseAND(F.lit(0x11111111))
            .alias("m1"),
            F.conv(F.substring(h, 9, 8), 16, 10)
            .cast("bigint")
            .bitwiseAND(F.lit(0x11111111))
            .alias("m2"),
        ),
    )


def _simhash_from_masks(masks: Column) -> Column:
    """Sign-of-sum per bit position over staged parity masks.

    Each of the 16 passes is a plain integer aggregate
    (shift/and/add per element, no per-element allocation — an
    array-accumulator single pass measured 2.4× slower than these 16
    cheap traversals)."""
    n = F.size(masks)

    def count(b: int):
        # digit b+1 drives bit b; digit j sits at nibble 8-j of its mask
        field, shift = ("m1", 4 * (7 - b)) if b < 8 else ("m2", 4 * (15 - b))
        return F.aggregate(
            masks,
            F.lit(0).cast("bigint"),
            lambda acc, m: acc + F.shiftright(m[field], shift).bitwiseAND(F.lit(1)),
        )

    # count_b ones contribute +1, the other n - count_b contribute -1
    bits = [
        F.when(F.lit(2) * count(b) > n, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(16)
    ]
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out


def simhash16_arrow_udf():
    """Arrow-batched SimHash finisher: md5-digest arrays in, 16-bit
    hash out.

    One numpy pass per batch: the concatenated first-16-hex-digit
    block of every token digest is parsed as raw ASCII, digit parities
    fall out as ``(value & 1)``, and per-document bit counts come from
    a single ``add.reduceat`` — replacing the 16 per-row aggregate
    expressions of :func:`_simhash_from_masks`, whose evaluation
    dominated ``text_features``' CPU (the parities, and therefore the
    bits, are identical). Same Arrow-matmul pattern as
    ``similarity.lsh_bucket_udf``; per-batch work is one vectorized
    kernel, so at corpus scale this stays scan-bound.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no annotations: `from __future__ import annotations` turns them
    # into strings pyspark's hint inference can't resolve here — the
    # un-hinted form is the plain SCALAR pandas_udf
    from ._arrow import ragged_layout

    @pandas_udf("bigint")
    def _simhash16(hashes):
        # null token arrays (null text) → 0, matching the expression
        # path, whose null bit conditions fall through to otherwise(0)
        out = np.zeros(len(hashes), dtype=np.int64)
        null, lens, offsets, nz = ragged_layout(hashes)
        if nz.any():
            joined = "".join(
                h[:16] for lst, n in zip(hashes, null) if not n for h in lst
            )
            arr = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
            arr = arr.reshape(-1, 16)
            # hex-digit parity: '0'-'9' → code&1 (48 even), 'a'-'f' →
            # (code-87)&1 (87 odd flips it)
            par = ((arr - np.where(arr >= 97, 87, 48)) & 1).astype(np.int64)
            counts = np.add.reduceat(par, offsets[nz], axis=0)
            bits = (2 * counts > lens[nz, None]).astype(np.int64)
            out[nz] = bits @ (1 << np.arange(16, dtype=np.int64))
        return pd.Series(out)

    return _simhash16


def simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
    use_arrow: bool = True,
) -> DataFrame:
    """Attach a 16-bit SimHash column.

    The per-token md5 array is materialized once in an intermediate
    projection (one md5 per token instead of 16). The bit counting
    runs as the Arrow popcount kernel by default
    (:func:`simhash16_arrow_udf`); ``use_arrow=False`` keeps the
    pure-column-expression path (bit-identical, used as the parity
    reference and for engines without Arrow workers).
    """
    staged = df.withColumn(
        "__h", F.transform(_tokens(F.col(text_col)), lambda w: F.md5(w))
    )
    if use_arrow:
        return staged.withColumn(
            out_col, simhash16_arrow_udf()(F.col("__h")).cast("int")
        ).drop("__h")
    # parity masks staged in their own projection: all 16 bit
    # aggregates reference them, and inlining would re-parse the hex
    # digests per bit position
    return (
        staged.withColumn("__m", _parity_masks(F.col("__h")))
        .withColumn(out_col, _simhash_from_masks(F.col("__m")))
        .drop("__h", "__m")
    )


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    by: list[str] | None = None,
    text_col: str = "text",
    lowercase: bool = True,
    skew_groups: int = 0,
) -> DataFrame:
    """Corpus vocabulary statistics: top-``k`` tokens by frequency,
    optionally per group (e.g. per language).

    Shape at scale: explode → two-level aggregation. The token count
    is a hash aggregate with map-side partial combine (the explode
    never crosses the wire un-aggregated), then the top-k is a window
    rank over the (tiny) distinct-token counts. Ties broken by token
    for determinism. With very few groups and a huge vocabulary the
    rank window can additionally be salted two-phase via
    ``skew_groups`` (same construction as
    ``sampling.stratified_sample_n``); counts are exact either way.

    Returns (by..., token, n, rank).
    """
    from pyspark.sql import Window

    by = list(by or [])
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = df.select(*by, F.explode(_tokens(t)).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy(*by, "token").agg(F.count("*").alias("n"))
    if skew_groups and skew_groups > 1:
        sg = F.pmod(F.xxhash64("token"), F.lit(skew_groups))
        local = Window.partitionBy(sg, *by).orderBy(
            F.col("n").desc(), F.col("token").asc()
        )
        counts = counts.withColumn(
            "__lr", F.row_number().over(local)
        ).filter(F.col("__lr") <= k)
    w = Window.partitionBy(*by).orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("__lr")
    )


# -- cleaning / PII / quality rules / repetition ------------------------

# patterns kept lookaround-free so Java regex (Spark) and RE2 (DuckDB,
# the oracle engine) agree
URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
TAG_RE = r"<[^>]+>"
PHONE_RE = r"\+?\d[\d() -]{7,}\d"
IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document counts of common PII-shaped patterns (emails,
    phone-like digit runs, IPv4-like quads). Narrow column
    expressions — at corpus scale this is a scan-speed pass."""
    return {
        "n_emails": F.regexp_count(text, F.lit(EMAIL_RE)),
        "n_phones": F.regexp_count(text, F.lit(PHONE_RE)),
        "n_ipv4": F.regexp_count(text, F.lit(IPV4_RE)),
    }


def redact_pii(
    text: Column,
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
    ip_token: str = "<IP>",
) -> Column:
    """Span-level PII redaction: replace email/phone/IPv4-shaped
    spans with placeholder tokens (the release-time counterpart of
    :func:`pii_counts`, which only measures). Order matters: emails
    first, so the digits inside one are never half-eaten by the phone
    pattern. Same Java/RE2-portable patterns, pure codegen — a
    scan-speed pass over 100 TB like every other rule here."""
    t = F.regexp_replace(text, EMAIL_RE, email_token)
    t = F.regexp_replace(t, PHONE_RE, phone_token)
    return F.regexp_replace(t, IPV4_RE, ip_token)


def _sloppy_cp1252(ch: str) -> str:
    """What ``ch`` becomes when its UTF-8 bytes are mis-decoded as
    Windows-1252 with the five undefined bytes passed through as C1
    controls — the "sloppy cp1252" convention every real-world
    mojibake fixer uses (browsers and Windows editors never reject
    those bytes, they pass them through)."""
    out = []
    for b in ch.encode("utf-8"):
        if b < 0x80:
            out.append(chr(b))
        else:
            try:
                out.append(bytes([b]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(b))
    return "".join(out)


#: characters whose UTF-8-read-as-cp1252 corruption we repair: the
#: ENTIRE sloppy-cp1252 image of bytes 0x80-0xFF (smart punctuation,
#: currency/marks, the full Latin-1 block, and the five C1-control
#: passthroughs) plus the BOM. Covering the whole image, not just the
#: chars where mojibake is commonly noticed, is what makes the table
#: CLOSED UNDER COMPOSITION: every character of a corrupted sequence
#: is itself in the repair set, so k-times-double-encoded text
#: repairs with ``passes=k``. The (bad, good) table is DERIVED, not
#: transcribed, so the Spark chain and the DuckDB oracle chain come
#: from one source of truth. Longest sequences first so a 3-byte
#: repair is never half-eaten by a 2-byte one.
_MOJIBAKE_CHARS = "".join(
    bytes([b]).decode("cp1252")
    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
    else chr(b)
    for b in range(0x80, 0x100)
) + "\ufeff"
MOJIBAKE_TABLE: list[tuple[str, str]] = sorted(
    ((_sloppy_cp1252(c), c) for c in _MOJIBAKE_CHARS),
    key=lambda e: -len(e[0]),
)

#: exotic spaces normalized to ASCII space (NBSP, ogham, en/em/thin
#: spaces, narrow NBSP, math space, ideographic space)
SPACE_CHARS = "  " + "".join(map(chr, range(0x2000, 0x200B))) + "  　"
#: dropped outright: zero-widths + BOM, C0 controls except \t\n\r,
#: DEL, the C1 block (bare mojibake residue is junk), soft hyphen
DROP_CHARS = (
    "\u200b\u200c\u200d\ufeff"
    + "".join(chr(c) for c in range(0x20) if chr(c) not in "\t\n\r")
    + "\x7f"
    + "".join(map(chr, range(0x80, 0xA0)))
    + "\xad"
)


def fix_text(text: Column, passes: int = 1, guard: bool = True) -> Column:
    """ftfy-style encoding repair, entirely in codegen expressions:
    un-mojibake the standard UTF-8-read-as-cp1252 corruptions
    (``â€™`` → ``’``, ``Ã©`` → ``é``, …), normalize exotic Unicode
    spaces to ASCII space, and drop zero-widths/BOM and C0 controls
    (keeping tab/newline/CR) — the pass that runs BEFORE cleaning,
    dedup, or tokenization in every serious curation pipeline (a
    mojibake'd duplicate otherwise hashes differently from its clean
    twin and sails through exact dedup).

    One chain application un-does ONE mis-decode; k-times
    double-encoded text (each extra web-pipeline hop adds one) needs
    ``passes=k`` — the repair table is closed under composition
    because every intermediate character (â, €, ™, …) is itself in
    the repair set, so pass i exposes exactly the layer pass i+1
    fixes. Repaired text is a fixed point (idempotence is tested), so
    overshooting ``passes`` is harmless on already-clean rows.
    Heuristic per-row depth detection (full ftfy) stays the
    documented production seam. NULL stays NULL."""
    t = text
    for _ in range(passes):
        for bad, good in MOJIBAKE_TABLE:
            t = F.replace(t, F.lit(bad), F.lit(good))
    repaired = F.translate(t, SPACE_CHARS + DROP_CHARS, " " * len(SPACE_CHARS))
    if not guard:
        return repaired
    # every bad sequence starts with a cp1252 image of a UTF-8 lead
    # byte (C2/C3/C5/C6/CB/E2/EF → Â Ã Å Æ Ë â ï — derived, not
    # assumed), so a row containing none of them is PROVABLY a fixed
    # point of the repair chain — skip all the replaces and pay only
    # the rlike + translate.
    # On a mostly-clean corpus that is the difference between one scan
    # and 129 of them per row; semantics are identical either way.
    leads = "".join(sorted({b[0] for b, _ in MOJIBAKE_TABLE}))
    clean = F.translate(text, SPACE_CHARS + DROP_CHARS, " " * len(SPACE_CHARS))
    return F.when(text.rlike(f"[{leads}]"), repaired).otherwise(clean)


def fix_text_sql(expr: str, chunk: int = 56) -> str:
    """The identical repair as a DuckDB-ready SQL expression over
    ``expr``, generated from the same tables as :func:`fix_text` —
    the correctness oracle's side of the differential.

    The 129-entry chain exceeds DuckDB's expression-binder recursion
    limit (128) as one nested call tree, so the chain is emitted as a
    correlated scalar subquery with one stacked derived table per
    ``chunk`` replaces — binder depth resets at each subquery level.
    Control/zero-width characters ride ``chr()`` calls so the SQL
    text itself stays printable."""

    def lit(s: str) -> str:
        parts: list[str] = []
        buf = ""
        for ch in s:
            o = ord(ch)
            if o < 0x20 or 0x7F <= o < 0xA0:
                if buf:
                    parts.append("'" + buf.replace("'", "''") + "'")
                    buf = ""
                parts.append(f"chr({o})")
            else:
                buf += ch
        if buf:
            parts.append("'" + buf.replace("'", "''") + "'")
        return "||".join(parts) if parts else "''"

    inner = f"(select {expr} as f0)"
    name = "f0"
    for li in range(0, len(MOJIBAKE_TABLE), chunk):
        sql = name
        for bad, good in MOJIBAKE_TABLE[li : li + chunk]:
            sql = f"replace({sql}, {lit(bad)}, {lit(good)})"
        name = f"f{li // chunk + 1}"
        inner = f"(select {sql} as {name} from {inner})"
    frm = "||".join(f"chr({ord(c)})" for c in SPACE_CHARS + DROP_CHARS)
    to = "'" + " " * len(SPACE_CHARS) + "'"
    return f"(select translate({name}, {frm}, {to}) from {inner})"


def chunk_chars(
    df: DataFrame,
    size: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping character windows — the
    embedding/RAG front door (a 100 TB corpus is embedded in chunks,
    never whole docs): one row per chunk with exact provenance
    ``(id, chunk_idx, char_start, chunk)``, so any downstream match
    maps back to a byte range of its source document.

    Stride is ``size - overlap``; the final window is whatever
    remains (never padded, never dropped — a 1-char tail is still
    retrievable text). JVM-side, zero Python: ``sequence`` over the
    window count, ``transform`` to (offset, substring), one
    ``explode`` (HOFs run interpreted — CodegenFallback — but the
    per-window work is one substring, so the pass stays scan-class) —
    the only row multiplication is the intended ~len/stride fan-out,
    there is no shuffle, and empty/NULL docs produce no rows.
    Token-boundary snapping is deliberately absent: char offsets stay
    exact and engine-portable (the DuckDB twin is the same
    arithmetic); snap downstream if a tokenizer needs it."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not (0 <= overlap < size):
        raise ValueError(f"overlap must be in [0, size), got {overlap}")
    stride = size - overlap
    n = F.length(F.col(text_col))
    # windows start at 0, stride, 2*stride, ... while start < len;
    # a start inside the last `overlap` chars would duplicate the
    # previous window's tail, so only starts with NEW content count:
    # n_windows = 1 + floor(max(len - size, 0) / stride), but when
    # len > size the last window may be short — ceil semantics via
    # integer arithmetic on (len - overlap)
    n_win = F.when(n <= size, F.lit(1)).otherwise(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            (i * stride).cast("long").alias("char_start"),
            F.substring(
                F.col(text_col), (i * stride + 1).cast("int"), size
            ).alias("chunk"),
        ),
    )
    return (
        df.filter(F.col(text_col).isNotNull() & (n > 0))
        .select(F.col(id_col), F.explode(windows).alias("__w"))
        .select(
            id_col,
            F.col("__w.chunk_idx").alias("chunk_idx"),
            F.col("__w.char_start").alias("char_start"),
            F.col("__w.chunk").alias("chunk"),
        )
    )


def clean_text(text: Column) -> Column:
    """Boilerplate scrub: drop HTML-ish tags, URLs and emails, then
    collapse whitespace — the C4-style normalization pass before
    dedup/tokenization. Pure codegen expressions, no shuffle."""
    t = F.regexp_replace(text, TAG_RE, " ")
    t = F.regexp_replace(t, URL_RE, " ")
    t = F.regexp_replace(t, EMAIL_RE, " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


#: elements whose CONTENT is never prose — dropped wholesale
_HTML_DROP_CONTENT_TAGS = ("script", "style", "noscript", "template", "svg")
#: block-level elements — their boundaries become line breaks so list
#: items / paragraphs don't fuse into one run-on token stream
_HTML_BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|thead|tbody|td|th|"
    r"section|article|header|footer|blockquote|pre|form)\b[^>]*/?>"
)
#: the named entities that actually occur at volume in crawl text;
#: anything rarer passes through literally (deterministic, documented)
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # last, so '&amp;lt;' decodes to '&lt;' not '<'
)


def html_to_text(html: Column) -> Column:
    """Markup-to-text for crawl pages: drop comments and
    script/style/noscript/template/svg blocks, turn block-element
    boundaries into line breaks, strip the remaining tags, decode the
    high-frequency entities, and normalize whitespace (runs of
    spaces/tabs collapse to one space, blank space around line breaks
    collapses to one newline).

    This is the naive-extractor tier — regex over well-formed-enough
    markup, entirely JVM codegen, so at crawl scale it's a scan-speed
    pass with zero Python. Boilerplate-aware extraction
    (readability/trafilatura-class DOM scoring) needs a real HTML
    parser and is a production seam, exactly like
    ``multimodal.decode_features(real_decoder=)``. All patterns are
    Java-regex/RE2 compatible (no backreferences: each drop-content
    tag gets its own non-greedy block pattern).
    """
    t = F.regexp_replace(html, r"(?s)<!--.*?-->", " ")
    for tag in _HTML_DROP_CONTENT_TAGS:
        t = F.regexp_replace(t, rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " ")
    t = F.regexp_replace(t, _HTML_BLOCK_TAG_RE, "\n")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n[ \n]*", "\n")
    # trim() strips spaces only; btrim also eats boundary line breaks
    return F.btrim(t, F.lit(" \n"))


def extract_main_content(
    html: Column,
    min_chars: int = 40,
    min_words: int = 10,
    max_link_density: float = 0.4,
    min_text_tag_ratio: float = 8.0,
) -> Column:
    """Boilerplate-aware main-content extraction — the tier above
    :func:`html_to_text` (round 8, closes the VERDICT "density-based
    block scorer" seam): split the page into blocks at block-element
    boundaries and keep only blocks that read like CONTENT, scored by
    the two classic boilerplate signals (Kohlschuetter et al.,
    "Boilerplate Detection Using Shallow Text Features", WSDM 2010):

    - **link density**: anchor-text chars / text chars — navigation,
      footers and related-links boxes are link-dominated; capped at
      ``max_link_density``.
    - **text-to-markup ratio**: text chars per remaining INLINE tag
      (block tags are already consumed as split points) — menus and
      widget markup are tag-dense; floored at ``min_text_tag_ratio``.
    - **length**: blocks under ``min_chars`` clean chars or
      ``min_words`` words (menu items, buttons, copyright lines —
      short-worded by construction) drop regardless.

    Survivor blocks are entity-decoded, whitespace-normalized and
    joined with line breaks, preserving document order. A page with
    NO qualifying block yields '' — callers wanting graceful
    degradation compose ``coalesce(nullif(extract_main_content(h),
    ''), html_to_text(h))``.

    Scale shape: one ``split`` + nested higher-order
    ``transform``/``filter``/``aggregate`` over the block array —
    JVM-side, zero Python, zero shuffle. NOTE the precise claim:
    higher-order array functions are CodegenFallback, so this tree
    runs in Catalyst's INTERPRETED eval, not whole-stage codegen
    (the round-8 SCALE.md lesson, jstack-verified); it is still
    scan-class — measured +21 s on the 1.28M-doc crawl chain — but
    deep HOF trees forfeit codegen and subexpression elimination,
    so keep per-block work shallow here. For nested-layout pages
    (content inside table/div soup) see
    :func:`extract_main_content_dom`, the ancestor-aware tier.
    """
    t = F.regexp_replace(html, r"(?s)<!--.*?-->", " ")
    for tag in _HTML_DROP_CONTENT_TAGS:
        t = F.regexp_replace(t, rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " ")
    blocks = F.split(t, _HTML_BLOCK_TAG_RE)

    def clean(seg: Column) -> Column:
        x = F.regexp_replace(seg, r"<[^>]*>", " ")
        for ent, ch in _HTML_ENTITIES:
            x = F.replace(x, F.lit(ent), F.lit(ch))
        return F.btrim(F.regexp_replace(x, r"\s+", " "))

    def score(seg: Column) -> Column:
        anchors = F.regexp_extract_all(
            seg, F.lit(r"(?is)<a\b[^>]*>(.*?)</a\s*>"), F.lit(1)
        )
        link_chars = F.aggregate(
            anchors,
            F.lit(0),
            lambda acc, a: acc + F.length(clean(a)),
        )
        n_tags = F.size(F.split(seg, "<")) - 1
        return F.struct(
            clean(seg).alias("txt"),
            n_tags.alias("tags"),
            link_chars.alias("link_chars"),
        )

    kept = F.filter(
        F.transform(blocks, score),
        lambda b: (F.length(b["txt"]) >= F.lit(min_chars))
        & (F.size(F.split(b["txt"], " ")) >= F.lit(min_words))
        & (
            b["link_chars"].cast("double")
            <= F.lit(max_link_density) * F.length(b["txt"])
        )
        & (
            F.length(b["txt"]).cast("double")
            >= F.lit(min_text_tag_ratio) * (b["tags"].cast("double"))
        ),
    )
    return F.array_join(F.transform(kept, lambda b: b["txt"]), "\n")


#: DOM-tier tag classes. Block tags delimit candidate content blocks
#: (superset of the flat splitter's list: + nav/aside/main/figure —
#: the semantic-HTML5 set); "boring" ancestors mark chrome subtrees
#: whose text is never content; void tags cannot carry children.
_DOM_BLOCK_TAGS = frozenset(
    "p div li ul ol h1 h2 h3 h4 h5 h6 tr table thead tbody td th "
    "section article header footer blockquote pre form nav aside "
    "main figure figcaption".split()
)
_DOM_BORING_TAGS = frozenset(("nav", "header", "footer", "aside"))
#: DOM-tier drop set: the shared script/style/... list PLUS title —
#: title is neither a block nor a drop tag in the flat grammar, so
#: under lenient floors its text would leak into the first extracted
#: block (a page's main content never lives in <title>)
_DOM_DROP_CONTENT_TAGS = frozenset(_HTML_DROP_CONTENT_TAGS) | {"title"}
_DOM_VOID_TAGS = frozenset(
    "br hr img input meta link area base col embed source track wbr".split()
)

_DOM_TOKEN_RE = None  # compiled lazily inside the worker
_DOM_NAME_RE = None


def _dom_extract_one(
    html: str | None,
    min_chars: int,
    min_words: int,
    max_link_density: float,
) -> str | None:
    """One document through the stack-based block-tree scorer. Pure
    function (shared by the Spark kernel and tests)."""
    global _DOM_TOKEN_RE, _DOM_NAME_RE
    import re

    if html is None:
        return None
    if _DOM_TOKEN_RE is None:
        # '<' opens a tag only before [/!?letter] (the HTML5 rule);
        # a bare '< 3 dollars' stays literal text instead of eating
        # everything up to the next '>'
        _DOM_TOKEN_RE = re.compile(r"<[/!?a-zA-Z][^>]*>|[^<]+|<")
        _DOM_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
    h = re.sub(r"(?s)<!--.*?-->", " ", html)

    stack: list[str] = []
    boring_depth = 0
    a_depth = 0
    skip_tag: str | None = None
    cur: list[str] = []
    cur_link = 0
    kept: list[str] = []

    def pop_to(name: str) -> None:
        nonlocal boring_depth, a_depth
        if name not in stack:
            return
        while stack:
            t = stack.pop()
            if t in _DOM_BORING_TAGS:
                boring_depth -= 1
            elif t == "a":
                a_depth -= 1
            if t == name:
                break

    def finalize() -> None:
        nonlocal cur, cur_link
        txt = "".join(cur)
        for ent, ch in _HTML_ENTITIES:
            txt = txt.replace(ent, ch)
        txt = re.sub(r"\s+", " ", txt).strip()
        if (
            txt
            and boring_depth == 0
            and len(txt) >= min_chars
            and txt.count(" ") + 1 >= min_words
            and cur_link <= max_link_density * len(txt)
        ):
            kept.append(txt)
        cur, cur_link = [], 0

    for m in _DOM_TOKEN_RE.finditer(h):
        tok = m.group(0)
        if tok[0] != "<":
            if skip_tag is not None:
                continue
            cur.append(tok)
            if a_depth > 0:
                cur_link += len(re.sub(r"\s+", " ", tok).strip())
            continue
        tm = _DOM_NAME_RE.match(tok)
        if tm is None:
            # '<!DOCTYPE html>' / '<?xml ...?>' declarations are
            # consumed as tags by the token regex but have no element
            # name — they are markup, not text (a verbatim append
            # would leak the declaration into the first block under
            # lenient floors). Only a bare '<3 apples' bracket whose
            # '<' the regex matched alone stays literal.
            if tok[1:2] in ("!", "?"):
                if skip_tag is None:
                    cur.append(" ")
            elif skip_tag is None:
                cur.append(tok)
            continue
        name = tm.group(1).lower()
        closing = tok.startswith("</")
        if skip_tag is not None:
            if closing and name == skip_tag:
                skip_tag = None
            continue
        if name in _DOM_DROP_CONTENT_TAGS:
            if not closing and not tok.endswith("/>"):
                skip_tag = name
            continue
        if name in _DOM_VOID_TAGS:
            cur.append(" ")
            continue
        if name in _DOM_BLOCK_TAGS:
            # any block boundary (open OR close) ends the current
            # text accumulation — same segmentation rhythm as the
            # flat splitter, but with the ancestor stack attached
            finalize()
            if closing:
                pop_to(name)
            elif not tok.endswith("/>"):
                stack.append(name)
                if name in _DOM_BORING_TAGS:
                    boring_depth += 1
            continue
        if name == "a":
            if closing:
                pop_to("a")
            elif not tok.endswith("/>"):
                stack.append("a")
                a_depth += 1
            cur.append(" ")
            continue
        # other inline tags (span/b/i/font/em/...) are NOT scored —
        # that is the point of this tier: markup density inside a
        # block carries no penalty, only a whitespace boundary
        cur.append(" ")
    finalize()
    return "\n".join(kept)


def extract_main_content_dom(
    html: Column,
    min_chars: int = 40,
    min_words: int = 10,
    max_link_density: float = 0.4,
) -> Column:
    """Ancestor-aware main-content extraction — the DOM tier above
    :func:`extract_main_content` (round 9, closes the VERDICT
    "readability/trafilatura class" seam for nested layouts).

    A single stack-walk over the tag stream builds the block tree
    the flat splitter cannot see, and scores each block with the
    density signals PLUS the two signals only a stack has:

    - **ancestor semantics**: any text under an open ``nav`` /
      ``header`` / ``footer`` / ``aside`` is chrome, however wordy
      and link-free (the wordy-footer false positive of the flat
      scorer);
    - **no tag-density penalty**: inline markup (``span``/``b``/
      ``font`` soup, the classic table-layout page) contributes only
      whitespace boundaries, so a paragraph fragmented across inline
      wrappers inside one ``td`` is scored as ONE block on its text
      alone — exactly the input class where the flat scorer's
      text-to-markup floor deletes real content.

    Length (``min_chars``/``min_words``) and link-density gates are
    the flat tier's, unchanged. Malformed nesting is tolerated
    (closing an unopened tag is a no-op; a close pops through
    mis-nested intermediates); a page with no qualifying block
    yields ``''`` — compose ``coalesce(nullif(...), html_to_text(h))``
    for graceful degradation, same as the flat tier.

    Scale shape: one Arrow-batched kernel (``pandas_udf``) — the
    plan is scan + ArrowEvalPython, zero shuffle, the same
    worker-pool economics as the Gopher repetition family
    (plan-contracted there after the measured 413 s/18 s HOF
    bake-off; this kernel exists instead of a deeper HOF tree for
    the same reason).
    """
    from pyspark.sql.functions import pandas_udf

    # un-hinted form is the plain SCALAR pandas_udf
    @pandas_udf("string")
    def _dom_extract(s):
        return s.map(
            lambda h: _dom_extract_one(
                h, min_chars, min_words, max_link_density
            )
        )

    return _dom_extract(html)


def quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 1000,
    min_word_len: float = 2.0,
    max_word_len: float = 12.0,
    min_stopword_ratio: float = 0.05,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """Gopher/C4-style keep-drop rules over :func:`quality_features`.

    Attaches one boolean per rule plus the conjunction ``keep`` — the
    curation pattern where drop *reasons* are retained for auditing
    rather than filtering in place. All rules are column predicates on
    the single-pass feature projection; the filter itself stays
    pushdown-friendly (``df.filter("keep")``).

    Every flag is a DEFINITE boolean: an empty/blank document has
    NULL ratio features, and a NULL rule would read as "reason
    unknown" in the audit trail (and NULL-poison the ``keep``
    conjunction under three-valued logic) — an empty doc simply
    FAILS the rule (round 12, caught by the edge-corpus oracle
    twins)."""
    q = quality_features(df, text_col)
    flags = {
        "ok_length": F.col("n_tokens").between(min_tokens, max_tokens),
        "ok_word_len": F.coalesce(
            F.col("mean_word_len").between(min_word_len, max_word_len),
            F.lit(False),
        ),
        "ok_stopwords": F.coalesce(
            F.col("stopword_ratio") >= min_stopword_ratio, F.lit(False)
        ),
        "ok_punct": F.coalesce(
            F.col("punct_ratio") <= max_punct_ratio, F.lit(False)
        ),
    }
    out = q.withColumns(flags)
    keep = None
    for name in flags:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition signals (Gopher §A1.3): the fraction of the document
    occupied by its most frequent unigram and bigram (case-folded).
    High values mark boilerplate/spam for the quality filter.
    Documents shorter than 2 tokens have no bigram and are dropped,
    mirroring the oracle's inner-join semantics.
    Returns (id, top_unigram_frac, top_bigram_frac).

    Scale shape: per-document metric → Arrow kernel, zero exchange
    (same reasoning as :func:`gopher_repetition`, which see for the
    measured comparison; the original explode → groupBy(doc, gram)
    formulation shuffled every token as a string key and its bigram
    zip_with/slice tree was CodegenFallback-interpreted — 2.2 s warm
    for 5,000 55-token docs vs ~0.3 s here).

    Tokenization mirrors the historical SQL twin exactly — NOT
    Python ``str.split``: space-only trim, then an ASCII ``\\s+``
    split (Python's unicode split would drop the leading empty token
    a tab/newline-initial doc produces, and would split on NBSP /
    U+2028 where the twin's RE2 regex does not). Unigrams skip empty
    tokens; bigrams are built over the UNfiltered list, phantom
    empty-token pairs included, as the twin always did."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("top_unigram_frac double, top_bigram_frac double")
    def _kern(texts):
        from collections import Counter

        rows = []
        for t in texts:
            l = _ascii_ws_split((t or "").lower(), keep_empty=True)
            toks = [w for w in l if w]
            if not toks or len(l) < 2:
                rows.append((None, None))
                continue
            uc = Counter(toks)
            bc = Counter(zip(l, l[1:]))
            rows.append(
                (
                    max(uc.values()) / len(toks),
                    max(bc.values()) / (len(l) - 1),
                )
            )
        return pd.DataFrame(
            rows, columns=["top_unigram_frac", "top_bigram_frac"]
        )

    # asNondeterministic: the short-doc dropout filter below references
    # the kernel's output, and the optimizer pushes a copy of the
    # filter BELOW the projection — duplicating the ArrowEvalPython so
    # every document paid the kernel twice (guide §4.4; plan-pinned in
    # test_plan_contract_repetition_stats_single_kernel_eval). The
    # kernel is pure, but "non-deterministic" is the only lever that
    # stops the optimizer cloning it; the filter still applies, once,
    # above the single evaluation.
    kern = _kern.asNondeterministic()
    return (
        df.select(F.col(id_col), kern(F.col(text_col)).alias("_r"))
        .select(id_col, "_r.*")
        .filter(F.col("top_bigram_frac").isNotNull())
    )


def _gopher_row(t, line_re, para_re, top_ns, dup_ns, ascii_ws=False):
    """Gopher table-A1 metrics for one document (the Arrow kernel's
    per-row body) — numpy-vectorized (round 9).

    Semantics are EXACT, not approximate: gram identity is a chain of
    ``np.unique`` pair-compactions over integer token ids (gram-id of
    length n = unique-ified (gram-id of n-1, next token id) pair), so
    two windows get the same id iff their token tuples are equal — no
    hashing, no collisions — and the count-tie/longest-gram rule is
    the max window-char-length over tied POSITIONS, which equals the
    rule over tied grams. ``_gopher_row_py`` keeps the original
    Counter-based body as the differential-test reference
    (hypothesis pins the two equal).

    ``ascii_ws`` tokenizes with the engine-portable ASCII whitespace
    class instead of Python's unicode ``str.split`` — callers whose
    results must hash-match an RE2/Java-regex twin need it.
    Returns the metric tuple in output-column order."""
    t = t or ""
    # length dispatch (measured, same box, same corpus shape):
    # numpy wins 2x at 200 tokens and 3.5x at 2000, but per-row
    # array setup loses ~1.8x to Counter under ~100 tokens — so
    # short docs take the Counter body (identical outputs, pinned by
    # the hypothesis differential). ~6 chars/token makes 600 chars a
    # cheap pre-tokenization proxy for the ~100-token crossover.
    if len(t) < 600:
        return _gopher_row_py(
            t, line_re, para_re, top_ns, dup_ns, ascii_ws=ascii_ws
        )
    return _gopher_row_np(
        t, line_re, para_re, top_ns, dup_ns, ascii_ws=ascii_ws
    )


def _gopher_row_np(t, line_re, para_re, top_ns, dup_ns, ascii_ws=False):
    """The vectorized body (see :func:`_gopher_row` for the dispatch
    rationale and the exactness argument)."""
    import numpy as np

    out = []
    for rx in (line_re, para_re):
        units = [u for u in (s.strip() for s in rx.split(t)) if u]
        tot = len(units)
        if tot:
            uniq, counts = np.unique(np.array(units), return_counts=True)
            ulen = np.char.str_len(uniq).astype(np.int64)
            rep = counts > 1
            dup = int((counts[rep] - 1).sum())
            dup_ch = int(((counts[rep] - 1) * ulen[rep]).sum())
            tot_ch = int((counts * ulen).sum())
            out.append(dup / tot)
            out.append(dup_ch / tot_ch if tot_ch else 0.0)
        else:
            out.extend((0.0, 0.0))
    toks = _ascii_ws_split(t) if ascii_ws else t.split()
    T = len(toks)
    if T == 0:
        out.extend([0.0] * (len(top_ns) + len(dup_ns)))
        return tuple(out)
    arr = np.array(toks)
    lens = np.char.str_len(arr).astype(np.int64)
    char_len = int(lens.sum())
    norm_len = char_len + T - 1
    csum = np.concatenate(([0], np.cumsum(lens)))
    _, inv = np.unique(arr, return_inverse=True)
    inv = inv.astype(np.int64)
    base = int(inv.max()) + 1
    grams = {1: inv}
    g = inv
    for n in range(2, max([*top_ns, *dup_ns]) + 1):
        # compacting each step keeps the pair key < distinct * base,
        # far inside int64 for any real document length
        pairs = g[:-1] * base + inv[n - 1 :]
        _, g = np.unique(pairs, return_inverse=True)
        grams[n] = g
    for n in top_ns:
        g = grams[n]
        if T < n or len(g) == 0 or not norm_len:
            out.append(0.0)
            continue
        cg = np.bincount(g)[g]  # occurrence count at each position
        cmax = int(cg.max())
        pos = np.nonzero(cg == cmax)[0]
        top_len = int((csum[pos + n] - csum[pos]).max()) + (n - 1)
        out.append(cmax * top_len / norm_len)
    for n in dup_ns:
        g = grams[n]
        if T < n or len(g) == 0 or not char_len:
            out.append(0.0)
            continue
        duppos = np.nonzero(np.bincount(g)[g] > 1)[0]
        if len(duppos) == 0:
            out.append(0.0)
            continue
        cover = np.zeros(T + 1, np.int32)
        cover[duppos] += 1
        cover[duppos + n] -= 1
        covered = np.cumsum(cover[:T]) > 0
        out.append(int(lens[covered].sum()) / char_len)
    return tuple(out)


def _gopher_row_py(t, line_re, para_re, top_ns, dup_ns, ascii_ws=False):
    """The original Counter-based per-row body, kept as the
    independent reference implementation for the vectorized kernel's
    differential test (and as executable documentation of the
    table-A1 semantics)."""
    from collections import Counter

    out = []
    t = t or ""
    for rx in (line_re, para_re):
        units = [u for u in (s.strip() for s in rx.split(t)) if u]
        c = Counter(units)
        tot = len(units)
        tot_ch = sum(map(len, units))
        dup = sum(v - 1 for v in c.values() if v > 1)
        dup_ch = sum((v - 1) * len(k) for k, v in c.items() if v > 1)
        out.append(dup / tot if tot else 0.0)
        out.append(dup_ch / tot_ch if tot_ch else 0.0)
    toks = _ascii_ws_split(t) if ascii_ws else t.split()
    T = len(toks)
    lens = [len(w) for w in toks]
    char_len = sum(lens)
    norm_len = char_len + max(T - 1, 0)
    for n in top_ns:
        if T >= n and norm_len:
            c = Counter(tuple(toks[i : i + n]) for i in range(T - n + 1))
            # the MOST FREQUENT gram's characters (count ties broken
            # by the longest gram — value-determining, since equal
            # counts x equal lengths give equal fractions), NOT
            # max(count*len): a rarer-but-longer gram must not win
            cmax = max(c.values())
            top_len = max(
                sum(map(len, k)) + n - 1
                for k, v in c.items()
                if v == cmax
            )
            out.append(cmax * top_len / norm_len)
        else:
            out.append(0.0)
    for n in dup_ns:
        if T >= n and char_len:
            grams = [tuple(toks[i : i + n]) for i in range(T - n + 1)]
            c = Counter(grams)
            covered = set()
            for i, g in enumerate(grams):
                if c[g] > 1:
                    covered.update(range(i, i + n))
            out.append(sum(lens[p] for p in covered) / char_len)
        else:
            out.append(0.0)
    return tuple(out)


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = r"\n",
    para_sep: str = r"\n{2,}",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    ascii_ws: bool = False,
) -> DataFrame:
    """The full Gopher repetition-filter signal family (Rae et al.
    2021, table A1), one row per document:

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of line
      *occurrences* (resp. line characters) beyond the first
      occurrence of each distinct line value. Lines are the trimmed
      non-empty ``line_sep`` splits; paragraphs (``dup_para_*``) the
      ``para_sep`` splits.
    - ``top_{n}gram_char_frac`` for n in ``top_ns``: characters in
      all occurrences of the single MOST FREQUENT word n-gram
      (count x gram string length, single-space joined; count ties
      broken by the longest gram, which fixes the value) over the
      length of the whitespace-normalized text. A rarer-but-longer
      gram never wins: the signal is the paper's "most
      frequently-occurring n-gram", not max(count x length).
    - ``dup_{n}gram_char_frac`` for n in ``dup_ns``: characters of
      token *positions covered by* any n-gram value occurring more
      than once, over total token characters. Positional coverage
      (each position counted once however many duplicated grams span
      it) — the paper's accounting, not the occurrence-sum
      overestimate; it makes the family monotone non-increasing in n.

    Tokens are the whitespace splits of the text as given — callers
    case-fold first if they want case-insensitive repetition.
    Missing-denominator edge cases (no tokens / no grams of size n)
    yield 0.0, not null.

    Scale shape — an instructive one. Every metric is a function of
    one document's own tokens, so the op is a pure narrow map; the
    question is only who runs the per-row kernel. Three candidates
    were measured at 2M ~40-token docs on local[32]:

    1. the textbook explode → groupBy(doc, n, gram) relational shape:
       413 s — it shuffles ~9x the corpus's token positions as wide
       string keys to compute a quantity that never needed to leave
       its row;
    2. per-row ``array_sort``/``transform`` column expressions: worse
       still — higher-order functions are CodegenFallback, so the
       whole tree runs in interpreted eval, which re-evaluates
       non-cheap inlined children (the tokenizing regex split) at
       every reference site inside every lambda element;
    3. this Arrow-batched kernel (Counter + set-cover per row,
       ~45 gram tuples per doc): the whole stage is scan + one
       ArrowEvalPython — zero exchange, linear, and the Python worker
       pool is the same one the codec/simhash kernels already pay
       for. See ``simhash16_arrow_udf`` for the same
       expression-vs-Arrow tradeoff resolved the same way.
    """
    return df.select(
        F.col(id_col),
        gopher_repetition_col(
            F.col(text_col),
            line_sep=line_sep,
            para_sep=para_sep,
            top_ns=top_ns,
            dup_ns=dup_ns,
            ascii_ws=ascii_ws,
        ).alias("_g"),
    ).select(id_col, "_g.*")


def gopher_repetition_col(
    text: Column,
    line_sep: str = r"\n",
    para_sep: str = r"\n{2,}",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    ascii_ws: bool = False,
) -> Column:
    """Column form of :func:`gopher_repetition`: the Arrow kernel as
    a struct-typed expression (one field per signal), attachable with
    ``withColumn`` — no join needed to keep the caller's payload
    columns, which also makes it usable mid-stream (stateless, so
    Structured-Streaming-safe)."""
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cols = (
        ["dup_line_frac", "dup_line_char_frac"]
        + ["dup_para_frac", "dup_para_char_frac"]
        + [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
    )
    schema = ", ".join(f"{c} double" for c in cols)
    line_re = _re.compile(line_sep)
    para_re = _re.compile(para_sep)
    tn, dn = tuple(top_ns), tuple(dup_ns)
    aw = bool(ascii_ws)

    @pandas_udf(schema)
    def _kern(texts):
        return pd.DataFrame(
            [
                _gopher_row(t, line_re, para_re, tn, dn, ascii_ws=aw)
                for t in texts
            ],
            columns=cols,
        )

    return _kern(text)


#: Published Gopher repetition-filter thresholds (Rae et al. 2021,
#: table A1): a document is dropped when the signal EXCEEDS the value.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def resolve_repetition_thresholds(
    overrides: dict[str, float] | None = None,
) -> dict[str, float]:
    """The full table-A1 threshold set with ``overrides`` applied on
    top — the resolution rule of :func:`repetition_flags`: a subset
    dict overrides, never restricts. Unknown signal names raise."""
    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if overrides:
        unknown = set(overrides) - set(th)
        if unknown:
            raise ValueError(
                f"unknown repetition signals: {sorted(unknown)}"
            )
        th.update(overrides)
    return th


def repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict[str, float] | None = None,
    **gopher_kwargs,
) -> DataFrame:
    """Gopher repetition keep/drop rules over
    :func:`gopher_repetition`, in the :func:`quality_flags` audit
    style: one boolean ``ok_<signal>`` per table-A1 threshold
    (true = signal at or under the paper's published cutoff) plus
    the conjunction ``keep`` — drop *reasons* retained for auditing
    rather than filtering in place. ``thresholds`` overrides any
    subset of :data:`GOPHER_REPETITION_THRESHOLDS`; the filter stays
    a column predicate on the single Arrow-kernel pass.
    """
    th = resolve_repetition_thresholds(thresholds)
    out = gopher_repetition(
        df, text_col=text_col, id_col=id_col, **gopher_kwargs
    )
    flags = {
        f"ok_{sig}": F.col(sig) <= F.lit(cut)
        for sig, cut in th.items()
        if sig in out.columns
    }
    out = out.withColumns(flags)
    keep = None
    for name in flags:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep)
