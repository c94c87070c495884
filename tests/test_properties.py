"""Property-based tests (hypothesis): window interpolation must match
pandas semantics on arbitrary null patterns; cascade statistics remain
valid distributions on arbitrary rain series."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cascade_oracle import aggregate_precipitation_values
from melodist_spark.util.interpolate import interpolate_linear


@st.composite
def null_series(draw):
    n = draw(st.integers(min_value=2, max_value=40))
    vals = draw(
        st.lists(
            st.one_of(
                st.none(),
                st.floats(min_value=-100, max_value=100, allow_nan=False),
            ),
            min_size=n,
            max_size=n,
        )
    )
    return vals


@pytest.mark.parametrize("direction", ["forward", "both"])
@pytest.mark.parametrize("limit", [None, 2])
def test_interpolate_matches_pandas_cases(spark, direction, limit):
    """Deterministic grid of tricky null patterns (hypothesis-style
    exhaustive small cases, but batched into ONE spark job for speed).
    """
    patterns = [
        [None, 1.0, None, None, 4.0, None],
        [None, None, 2.0],
        [3.0, None, None, None, None, 9.0],
        [None] * 4,
        [5.0],
        [1.0, None, 2.0, None, None, None, 8.0, None],
        [None, 7.0, None],
        [2.0, 4.0, 6.0],
        [None, 1.0] * 5,
        [9.0, None, None, 3.0, None, 1.0, None],
    ]
    rows = []
    for i, pat in enumerate(patterns):
        for j, v in enumerate(pat):
            rows.append((f"g{i}", pd.Timestamp("2020-01-01") + pd.Timedelta(hours=j), v))
    pdf = pd.DataFrame(rows, columns=["station_id", "ts", "v"])
    df = spark.createDataFrame(pdf)
    got = (
        interpolate_linear(df, "v", limit=limit, limit_direction=direction)
        .orderBy("station_id", "ts")
        .toPandas()
    )
    for i, pat in enumerate(patterns):
        s = pd.Series(pat, dtype=float)
        exp = s.interpolate(method="linear", limit=limit, limit_direction=direction)
        sub = got[got.station_id == f"g{i}"].sort_values("ts")["v"].reset_index(drop=True)
        np.testing.assert_allclose(
            sub.values, exp.values, atol=1e-9, equal_nan=True,
            err_msg=f"pattern {i}: {pat} dir={direction} limit={limit}",
        )


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    x=st.lists(
        st.one_of(st.just(0.0), st.floats(min_value=0.01, max_value=50)),
        min_size=4,
        max_size=500,
    ),
    pct=st.integers(min_value=10, max_value=90),
)
def test_cascade_stats_always_valid(x, pct):
    """For ANY nonnegative series the calibration yields probability
    rows summing to 1 and conserving mass, or the documented sample
    fallback."""
    arr = np.array(x)
    stats, v = aggregate_precipitation_values(arr, percentile=pct)
    n = len(arr) // 2
    assert len(v) == n
    np.testing.assert_allclose(
        v, arr[: 2 * n : 2] + arr[1 : 2 * n : 2], atol=1e-12
    )
    total = stats.p01 + stats.p10 + stats.pxx
    assert np.allclose(total, 1.0, atol=1e-9)
    wsum = stats.wxx.sum(axis=0)
    valid = ~np.isnan(wsum)
    assert np.allclose(wsum[valid], 1.0, atol=1e-9)


@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    gray=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_ppm_roundtrip_property(h, w, gray, seed):
    """encode→decode is the identity for any image shape."""
    from melodist_spark.pipeline.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    np.testing.assert_array_equal(decode_ppm(encode_ppm(img)), img)


@given(
    out_h=st.integers(1, 16),
    out_w=st.integers(1, 16),
    h=st.integers(1, 32),
    w=st.integers(1, 32),
)
@settings(max_examples=40, deadline=None)
def test_resize_nearest_property(out_h, out_w, h, w):
    """Any resize: output shape exact, every pixel comes from the
    source, and identity resize is a no-op."""
    from melodist_spark.pipeline.multimodal import resize_nearest

    img = np.arange(h * w, dtype=np.int64).reshape(h, w)
    out = resize_nearest(img, out_h, out_w)
    assert out.shape == (out_h, out_w)
    assert np.isin(out, img).all()
    np.testing.assert_array_equal(resize_nearest(img, h, w), img)


def test_decontaminate_verbatim_inclusion_property(spark):
    """Deterministic small-case sweep (batched into one job): any doc
    containing a verbatim >=n-token window of a benchmark doc must be
    flagged; docs over a disjoint vocabulary must never be."""
    from melodist_spark.pipeline.decontamination import decontaminate

    bench_text = " ".join(f"b{i}" for i in range(12))
    rows, expect = [], {}
    did = 0
    for start in range(0, 8):  # verbatim 5-token windows, varying offset
        did += 1
        prefix = " ".join(f"p{did}x{j}" for j in range(start % 3))
        window = " ".join(f"b{i}" for i in range(start, start + 5))
        rows.append((did, f"{prefix} {window} tail{did}".strip()))
        expect[did] = True
    for k in range(5):  # disjoint vocab, varied length >= 5 tokens
        did += 1
        rows.append((did, " ".join(f"z{k}w{j}" for j in range(5 + k))))
        expect[did] = False
    got = (
        decontaminate(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            spark.createDataFrame([(0, bench_text)], ["doc_id", "text"]),
            ngram=5,
            text_is_extracted=True,
        )
        .toPandas()
        .set_index("doc_id")["contaminated"]
        .to_dict()
    )
    assert got == expect


# ---------------------------------------------------------------------------
# curation-operator properties (deterministic generated grids, batched
# into few spark jobs like the interpolation cases above)
# ---------------------------------------------------------------------------


def test_line_dedup_idempotent_and_conserving(spark):
    """Applying line_dedup to its own output changes nothing (the
    survivors ARE first occurrences), and every surviving line is a
    line of the original document in original order."""
    import numpy as np

    from melodist_spark.pipeline.dedup import line_dedup

    rng = np.random.default_rng(17)
    pool = [f"shared line number {i} with enough characters" for i in range(12)]
    rows = []
    for d in range(40):
        k = rng.integers(1, 6)
        lines = list(rng.choice(pool, size=k)) + [f"unique tail {d} of doc"]
        rows.append((d, "\n".join(lines)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from pyspark.sql import functions as F

    once = line_dedup(df, min_chars=10).select(
        "doc_id", F.col("text_deduped").alias("text")
    )
    twice = line_dedup(once, min_chars=10)
    changed = twice.filter(
        F.col("text_deduped") != F.col("text")
    ).count()
    assert changed == 0

    # order/containment: each output doc's lines are a subsequence of
    # the input doc's lines
    inp = {r["doc_id"]: r["text"].split("\n") for r in df.collect()}
    for r in line_dedup(df, min_chars=10).collect():
        it = iter(inp[r["doc_id"]])
        kept = r["text_deduped"].split("\n") if r["text_deduped"] else []
        for line in kept:
            while True:
                nxt = next(it)  # StopIteration = not a subsequence
                if nxt == line:
                    break


def test_pack_sequences_token_conservation(spark):
    """Total stream length equals the token sum; each seq id below the
    last is fully tiled (no holes) for any seq_len/bucket combo."""
    from melodist_spark.pipeline.packing import pack_sequences

    rows = [(i, "w " * ((i * 7) % 23 + 1)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for seq_len, buckets in ((16, 1), (64, 8), (1024, 64)):
        out = pack_sequences(df, seq_len=seq_len, n_buckets=buckets).toPandas()
        total = out["n_tokens"].sum()
        assert (out["begin_offset"] + out["n_tokens"]).max() == total
        # offsets are a permutation-free exact tiling
        srt = out.sort_values("begin_offset")
        ends = (srt["begin_offset"] + srt["n_tokens"]).to_numpy()
        assert (srt["begin_offset"].to_numpy()[1:] == ends[:-1]).all()


def test_chunk_documents_never_redundant(spark):
    """For a grid of (n_tokens, max_tokens, overlap): every chunk after
    the first contributes at least one new token, all tokens are
    covered, and concatenating the step-prefixes reconstructs the
    document."""
    from melodist_spark.pipeline.packing import chunk_tokens

    cases = []
    did = 0
    for n in (1, 2, 5, 8, 10, 11, 24, 25, 40):
        cases.append((did, " ".join(f"t{i}" for i in range(n)), n))
        did += 1
    df = spark.createDataFrame(
        [(d, t) for d, t, _ in cases], "doc_id long, text string"
    )
    for max_tokens, overlap in ((10, 0), (10, 3), (10, 9), (7, 2)):
        step = max_tokens - overlap
        out = chunk_tokens(df, max_tokens=max_tokens, overlap=overlap).toPandas()
        for did, text, n in cases:
            d = out[out.doc_id == did].sort_values("chunk_id")
            toks = text.split()
            # coverage: last chunk reaches the last token
            last_start = int(d.chunk_id.max()) * step
            assert last_start + int(d.chunk_tokens.iloc[-1]) == n
            # no redundant chunks: every start beyond 0 adds new tokens
            for cid in d.chunk_id:
                assert cid == 0 or cid * step < n - overlap
            # chunk contents are the expected token windows
            for _, r in d.iterrows():
                s = int(r.chunk_id) * step
                assert r.chunk_text == " ".join(toks[s:s + max_tokens])


def test_lm_broadcast_tokenizer_parity_property(spark):
    """Adversarial whitespace corpus, batched into one job: the
    Arrow-kernel tokenizer must agree with the JVM split on every
    ASCII whitespace char Java's \\s covers — including U+000B, which
    RE2's \\s lacks (normalized in the kernel)."""
    import math

    from melodist_spark.pipeline.lm import (
        lm_cross_entropy,
        lm_cross_entropy_broadcast,
    )

    ws = [" ", "\t", "\n", "\x0b", "\f", "\r"]
    texts = []
    for i, a in enumerate(ws):
        for j, b in enumerate(ws):
            texts.append(f"{a}alpha{a}beta{b}gamma{b}")
            texts.append(f"word{a}{b}mixed runs{b}{a}end")
    texts += ["", "  ", "\x0b", "one", "UPPER Case MiX", None]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rel = {
        r["doc_id"]: r
        for r in lm_cross_entropy(df)
        .select("doc_id", "n_bigrams", "cross_entropy")
        .collect()
    }
    bc = {
        r["doc_id"]: r
        for r in lm_cross_entropy_broadcast(df)
        .select("doc_id", "n_bigrams", "cross_entropy")
        .collect()
    }
    for k, rv in rel.items():
        assert rv["n_bigrams"] == bc[k]["n_bigrams"], (k, texts[k])
        a, b = rv["cross_entropy"], bc[k]["cross_entropy"]
        assert (a is None) == (b is None), (k, texts[k])
        if a is not None:
            assert math.isclose(a, b, rel_tol=1e-12), (k, texts[k], a, b)


def test_bpe_roundtrip_property(spark):
    """For any corpus, stripping </w> from the BPE pieces and joining
    reconstructs the normalized text exactly — at every merge count."""
    from melodist_spark.pipeline.bpe import bpe_tokenize, bpe_train

    rng = np.random.default_rng(3)
    vocab = ["ab", "abc", "aabb", "xyzzy", "q", "longishword", "a" * 20]
    rows = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(1, 12))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n_merges in (0, 3, 50):
        merges = bpe_train(df, num_merges=n_merges)
        got = bpe_tokenize(df, merges).collect()
        for r in got:
            rebuilt = "".join(r["bpe_tokens"]).replace("</w>", " ").strip()
            norm = " ".join(dict(rows)[r["doc_id"]].lower().split())
            assert rebuilt == norm, (n_merges, r["doc_id"])


@settings(max_examples=120, deadline=None, derandomize=True)
@given(data=st.binary(min_size=0, max_size=400), seed=st.integers(0, 2**32 - 1))
def test_codec_fuzz_never_crashes(data, seed):
    """Poison-blob contract for every pure-python codec: arbitrary
    bytes — including byte strings that START with a valid magic —
    must either raise ValueError (the resize/feature paths catch
    exactly that) or return a well-formed array. Anything else
    (IndexError, OverflowError, segfault-shaped numpy errors, hangs)
    would kill a 100 TB media pass on one corrupt payload."""
    import numpy as np

    from melodist_spark.pipeline.multimodal import (
        _PNG_SIG,
        decode_bmp,
        decode_gif,
        decode_png,
        decode_ppm,
        decode_wav,
    )

    rng = np.random.default_rng(seed)
    magics = [
        b"", b"P6", b"P5", b"BM", _PNG_SIG,
        b"RIFF" + bytes(4) + b"WAVE", b"GIF89a",
    ]
    payload = magics[seed % len(magics)] + data
    for dec in (decode_ppm, decode_bmp, decode_png, decode_gif):
        try:
            out = dec(payload)
            assert isinstance(out, np.ndarray)
        except ValueError:
            pass
        except Exception as e:  # normalize what the kernels catch
            raise AssertionError(
                f"{dec.__name__} leaked {type(e).__name__}: {e}"
            ) from e
    try:
        out = decode_wav(payload)
        assert isinstance(out[0], np.ndarray)
    except ValueError:
        pass
    except Exception as e:
        raise AssertionError(
            f"decode_wav leaked {type(e).__name__}: {e}"
        ) from e


@settings(max_examples=40, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**32 - 1), flip=st.integers(0, 10**9))
def test_codec_fuzz_bitflips_on_valid_streams(seed, flip):
    """Single byte corruptions of VALID PNG streams (past the magic)
    must also resolve to ValueError or an array — corrupt zlib
    streams are the realistic poison case."""
    import numpy as np

    from melodist_spark.pipeline.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    raw = bytearray(encode_png(img))
    pos = 8 + flip % max(len(raw) - 9, 1)
    raw[pos] ^= 1 + (flip % 255)
    try:
        out = decode_png(bytes(raw))
        assert isinstance(out, np.ndarray)
    except ValueError:
        pass
    except Exception as e:
        raise AssertionError(
            f"decode_png leaked {type(e).__name__} on bitflip: {e}"
        ) from e


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    k=st.integers(1, 6),
    levels=st.integers(2, 6),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_animation_roundtrip_property(h, w, k, levels, seed):
    """encode_gif_frames ∘ decode_gif_frames is the identity for
    full-canvas disposal-1 animations (each frame fully covers the
    canvas, so every composited canvas equals its input frame), with
    delays preserved — pins the animation walk against the encoder
    the same way the single-frame round trip pins decode_gif."""
    import numpy as np

    from melodist_spark.pipeline.multimodal import (
        decode_gif_frames,
        encode_gif_frames,
    )

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, levels, size=(h, w, 3), dtype=np.uint8) * (255 // levels)
        for _ in range(k)
    ]
    delays = [int(d) for d in rng.integers(0, 1000, size=k)]
    got = decode_gif_frames(encode_gif_frames(frames, delays_cs=delays))
    assert [g[0] for g in got] == list(range(k))
    assert [g[1] for g in got] == delays
    for (_, _, canvas), f in zip(got, frames):
        assert (canvas == f).all()


def test_normalize_url_idempotent_and_total(spark):
    """Canonicalization must be IDEMPOTENT (a canonical form that
    changes on re-canonicalization isn't canonical — and incremental
    pipelines re-normalize on every ingest) and TOTAL (junk crawl
    rows degrade deterministically, never throw). Exhaustive-ish
    component grid + adversarial junk, batched into one spark job."""
    import itertools

    from pyspark.sql import functions as F

    from melodist_spark.pipeline.urls import normalize_url

    schemes = ["http", "HTTPS", "ftp", ""]
    users = ["", "bot@", "a:b@"]
    hosts = ["WWW.Example.COM", "sub.x.CO.UK", "a.b", "localhost",
             "192.168.0.1", ""]
    ports = ["", ":80", ":443", ":8080", ":0"]
    paths = ["", "/", "/a//b/", "/a/./b", "/%20x", "//", "/a b"]
    queries = ["", "?a=1&b=2", "?utm_source=x", "?b=2&a=1&ref=x",
               "?=", "?a=1&a=1", "?&&"]
    frags = ["", "#f", "#a#b"]
    urls = []
    for s, u, h, p, pa, q, f in itertools.islice(
        itertools.product(schemes, users, hosts, ports, paths,
                          queries, frags),
        0, None, 7,  # every 7th combo: ~2.7k cases, one job
    ):
        urls.append((f"{s}://{u}{h}{p}" if s else h) + pa + q + f)
    urls += ["", "   ", "###", "://", "http://", "9http://x",
             "héllo://x", "a b c://d", "http:///", "http://:80/x"]

    pdf = pd.DataFrame({"i": range(len(urls)), "url": urls})
    out = (
        spark.createDataFrame(pdf)
        .select("i", "url", normalize_url(F.col("url")).alias("n1"))
        .select("i", "url", "n1", normalize_url(F.col("n1")).alias("n2"))
        .collect()
    )
    assert len(out) == len(urls)
    for r in out:
        assert r["n1"] is not None, r["url"]
        assert r["n2"] == r["n1"], (
            f"not idempotent: {r['url']!r} -> {r['n1']!r} -> {r['n2']!r}"
        )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    h=st.integers(min_value=9, max_value=24),
    w=st.integers(min_value=9, max_value=24),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_dhash_container_invariance_property(h, w, seed):
    """dHash depends on pixels, not bytes: the same image through the
    PNG and PPM encoders (entirely different byte streams) must hash
    identically, for arbitrary sizes down past the 9x8 sample grid."""
    from melodist_spark.pipeline.multimodal import (
        dhash64,
        encode_png,
        encode_ppm,
    )

    img = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    hp = dhash64(encode_png(img))
    assert hp is not None
    assert hp == dhash64(encode_ppm(img))


@settings(max_examples=200, deadline=None, derandomize=True)
@given(html=st.text(min_size=0, max_size=400))
def test_dom_extractor_totality(html):
    """The DOM extractor is a hand-written parser over UNTRUSTED
    crawl bytes: any unicode garbage — half-open tags, nested
    '<<<>>>', stray entities, mis-nested closes — must yield a str
    (never an exception, never None for non-None input). Same
    totality contract as the robots parser."""
    from melodist_spark.pipeline.text import _dom_extract_one

    out = _dom_extract_one(html, 10, 2, 0.4)
    assert isinstance(out, str)


@settings(max_examples=80, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**32 - 1))
def test_dom_extractor_tag_soup_fuzz(seed):
    """Structured tag-soup fuzz: random sequences of real open/close/
    void/drop tags interleaved with text must parse totally, and any
    emitted block text must come from the input's text runs (the
    parser can drop, never invent)."""
    import numpy as np

    from melodist_spark.pipeline.text import _dom_extract_one

    rng = np.random.default_rng(seed)
    tags = ["p", "div", "td", "tr", "table", "a", "span", "b", "nav",
            "footer", "script", "style", "br", "li", "ul"]
    parts = []
    words = []
    for i in range(int(rng.integers(1, 60))):
        r = rng.random()
        t = tags[int(rng.integers(0, len(tags)))]
        if r < 0.35:
            parts.append(f"<{t}>")
        elif r < 0.6:
            parts.append(f"</{t}>")
        elif r < 0.65:
            parts.append(f"<{t}/>")
        else:
            w = f"word{int(rng.integers(0, 50))}"
            words.append(w)
            parts.append(f" {w} ")
    out = _dom_extract_one("".join(parts), 1, 1, 1.0)
    assert isinstance(out, str)
    for tok in out.replace("\n", " ").split():
        assert tok in words, tok


@settings(max_examples=150, deadline=None, derandomize=True)
@given(seed=st.integers(0, 10**9))
def test_gopher_vectorized_matches_reference(seed):
    """Round 9: the numpy-vectorized Gopher kernel must equal the
    Counter-based reference (_gopher_row_py) to 1e-12 on arbitrary
    token streams — small vocabularies force heavy gram repetition,
    newline injection exercises the line/para half, and repeated-
    token runs hit every tie-break path."""
    import random
    import re

    from melodist_spark.pipeline.text import (
        _gopher_row,
        _gopher_row_np,
        _gopher_row_py,
    )

    line_re, para_re = re.compile(r"\n"), re.compile(r"\n{2,}")
    tn, dn = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    r = random.Random(seed)
    V = r.choice([1, 2, 3, 5, 20, 100])
    T = r.randint(0, 80)
    toks = [f"w{r.randrange(V)}" * r.choice([1, 1, 2, 3]) for _ in range(T)]
    txt = " ".join(toks)
    for _ in range(r.randint(0, 6)):
        txt = txt.replace(" ", "\n\n" if r.random() < 0.3 else "\n", 1)
    for aw in (False, True):
        # the numpy body directly (dispatch would route short docs to
        # the reference and test nothing), plus the dispatching entry
        a = _gopher_row_np(txt, line_re, para_re, tn, dn, ascii_ws=aw)
        b = _gopher_row_py(txt, line_re, para_re, tn, dn, ascii_ws=aw)
        c = _gopher_row(txt, line_re, para_re, tn, dn, ascii_ws=aw)
        assert all(abs(x - y) < 1e-12 for x, y in zip(a, b)), (txt, a, b)
        assert all(abs(x - y) < 1e-12 for x, y in zip(c, b)), (txt, c, b)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(seed=st.integers(0, 10**9))
def test_minhash_arrow_matches_expression_form(spark, seed):
    """Round 9: minhash_signature_arrow must be BIT-identical to the
    expression form — same md5 halves, same KM double hashing, same
    tokenization — across null/empty/short docs, repeated tokens,
    and whitespace-initial strings (the phantom-empty-token edge).
    Also guards the pandas float64-coercion trap: a batch mixing
    None rows with ints must not round 60-bit signatures."""
    import random

    from melodist_spark.pipeline.dedup import (
        minhash_signature,
        minhash_signature_arrow,
    )

    r = random.Random(seed)
    rows = [(0, None), (1, ""), (2, "solo"), (3, "\tx y z")]
    for i in range(4, 24):
        rows.append(
            (i, " ".join(f"w{r.randrange(30)}" for _ in range(r.randint(0, 20))))
        )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = r.choice([None, 2, 3, 5])
    k = r.choice([4, 16])
    a = {
        q["doc_id"]: tuple(q[f"sig_{i}"] for i in range(k))
        for q in minhash_signature(df, num_hashes=k, shingle=sh).collect()
    }
    b = {
        q["doc_id"]: tuple(q[f"sig_{i}"] for i in range(k))
        for q in minhash_signature_arrow(
            df, num_hashes=k, shingle=sh
        ).collect()
    }
    assert a == b


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(seed=st.integers(0, 10**9))
def test_jaccard_pairs_arrow_matches_expression_form(spark, seed):
    """Round 14: jaccard_pairs(arrow=True) must be BIT-identical to
    the expression form — the Arrow kernel emits the same DISTINCT
    shingle set as the zip_with/transform tree (order differs, but
    array_intersect/size are set-cardinality ops), so the jaccard
    ratio is the same float64 division. Covers null/empty/short
    docs, repeated tokens, whitespace-initial strings (the
    phantom-empty-token edge), pairs whose docs have empty or null
    shingle sets, and unigram vs n-gram shingling."""
    import random

    from melodist_spark.pipeline.dedup import jaccard_pairs

    r = random.Random(seed)
    rows = [(0, None), (1, ""), (2, "solo"), (3, "\tx y z"), (4, "a b")]
    for i in range(5, 25):
        rows.append(
            (i, " ".join(f"w{r.randrange(12)}" for _ in range(r.randint(0, 15))))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ids = [i for i, _ in rows]
    pair_rows = {
        (a, b)
        for a, b in (
            sorted(r.sample(ids, 2)) for _ in range(30)
        )
    }
    pairs = spark.createDataFrame(
        sorted(pair_rows), "id_a long, id_b long"
    )
    sh = r.choice([None, 2, 3])
    key = lambda q: (q["id_a"], q["id_b"])  # noqa: E731
    a = {
        key(q): q["jaccard"]
        for q in jaccard_pairs(docs, pairs, shingle=sh).collect()
    }
    b = {
        key(q): q["jaccard"]
        for q in jaccard_pairs(docs, pairs, shingle=sh, arrow=True).collect()
    }
    assert a == b


@settings(max_examples=200, deadline=None, derandomize=True)
@given(word=st.text(min_size=1, max_size=24))
def test_unigram_viterbi_totality_and_roundtrip(word):
    """The Viterbi encoder is total over arbitrary unicode input —
    never an exception, and the concatenated pieces ALWAYS
    reconstruct the input exactly (unknown characters fall back to
    single-char pieces), for any vocabulary. (Word-splitting happens
    upstream in unigram_tokenize; the DP itself treats any string as
    a character sequence.)"""
    import math

    from melodist_spark.pipeline.unigram import viterbi_segment

    logp = {"a": math.log(0.4), "ab": math.log(0.3), "б": math.log(0.2)}
    out = viterbi_segment(word, logp)
    assert "".join(out) == word
    assert all(out)


def test_remove_repeated_spans_invariants_random_corpora(spark):
    """Span-removal invariants over a battery of dense-collision
    random corpora, batched into a handful of Spark jobs by giving
    each corpus a DISJOINT vocabulary (grams cannot cross corpora, so
    one corpus-wide run is 8 independent runs):

    1. zero residual — re-detection on the until_clean output finds
       nothing (the fixpoint's defining property);
    2. conservation — n_tokens_kept + n_tokens_removed equals the
       original token count, cumulatively across however many rounds
       each corpus needed;
    3. idempotence — re-running the remover on its own output
       removes nothing and changes no text.
    """
    import random

    from melodist_spark.pipeline.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    rng = random.Random(71)
    rows = []
    did = 0
    orig_tokens = {}
    for cid in range(8):
        vocab = [f"c{cid}w{j}" for j in range(rng.randint(2, 5))]
        for _ in range(rng.randint(8, 30)):
            toks = [rng.choice(vocab) for _ in range(rng.randint(1, 18))]
            rows.append((did, " ".join(toks)))
            orig_tokens[did] = len(toks)
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = remove_repeated_spans(df, span_tokens=3)
    pdf = out.toPandas().set_index("doc_id")
    assert len(pdf) == did
    # (2) conservation, cumulative across rounds
    for d, n in orig_tokens.items():
        assert pdf.loc[d, "n_tokens_kept"] + pdf.loc[d, "n_tokens_removed"] == n, d
    # non-vacuity: the dense vocab really produced duplicates
    assert (pdf["n_tokens_removed"] > 0).any()

    cleaned = spark.createDataFrame(
        pdf.reset_index()[["doc_id", "text"]], "doc_id long, text string"
    )
    # (1) zero residual
    assert repeated_spans(cleaned, span_tokens=3).isEmpty()
    # (3) idempotence
    again = remove_repeated_spans(cleaned, span_tokens=3).toPandas().set_index("doc_id")
    assert (again["n_tokens_removed"] == 0).all()
    assert (
        again["text"].sort_index() == pdf["text"].sort_index()
    ).all()
