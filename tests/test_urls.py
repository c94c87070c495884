"""URL curation + HTML extraction operators (pipeline/urls.py,
text.html_to_text) — crawl-side primitives beyond the reference.

The web_curation registry row hash-checks the full derivation against
a DuckDB replay; these tests pin the individual operators' semantics
on hand-crafted edge cases (userinfo, default/explicit ports,
multi-part TLDs, IPv4 hosts, scheme-less rows, nested/cased markup)
and the skew-safe salted cap's equivalence to the exact one.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from melodist_spark.pipeline.text import html_to_text
from melodist_spark.pipeline.urls import (
    cap_per_domain,
    domain_rank,
    filter_url_blocklist,
    normalize_url,
    registered_domain,
    url_host,
    url_port,
    url_query,
    url_scheme,
)


@pytest.mark.parametrize(
    "url, norm, domain",
    [
        (  # everything at once: case, userinfo, default port, dup
           # slashes, trailing slash, tracking params, sorting, fragment
            "HTTPS://bot:pw@WWW.Example.CO.UK:443/Docs//42/"
            "?utm_source=x&ref=rss&b=2&a=1#frag",
            "https://example.co.uk/Docs/42?a=1&b=2",
            "example.co.uk",
        ),
        (  # http default port, empty tracking value, param sort
            "http://example.com:80/a//b///c/?z=9&utm_campaign=&y=8",
            "http://example.com/a/b/c?y=8&z=9",
            "example.com",
        ),
        (  # multi-part TLD with subdomains
            "https://sub.shop.example.com.au/path/",
            "https://sub.shop.example.com.au/path",
            "example.com.au",
        ),
        (  # IPv4 host: non-default port kept, domain = the address
            "http://user@192.168.0.1:8080/x?a=1",
            "http://192.168.0.1:8080/x?a=1",
            "192.168.0.1",
        ),
        (  # no path at all -> '/'
            "http://example.com",
            "http://example.com/",
            "example.com",
        ),
        (  # only tracking params -> bare
            "https://a.b.co/?fbclid=abc",
            "https://a.b.co/",
            "b.co",
        ),
        (  # single-label host passes through registered_domain
            "https://localhost/",
            "https://localhost/",
            "localhost",
        ),
    ],
)
def test_normalize_and_registered_domain(spark, url, norm, domain):
    row = (
        spark.range(1)
        .select(
            normalize_url(F.lit(url)).alias("n"),
            registered_domain(url_host(F.lit(url))).alias("d"),
        )
        .first()
    )
    assert row["n"] == norm
    assert row["d"] == domain


def test_url_parts_and_schemeless_fallback(spark):
    u = F.lit("HTTPS://u@Host.Example.org:8443/p?q=1#f")
    row = spark.range(1).select(
        url_scheme(u).alias("s"),
        url_host(u).alias("h"),
        url_port(u).alias("p"),
        url_query(u).alias("q"),
        normalize_url(F.lit("  no-scheme/page?x=1 ")).alias("fb"),
    ).first()
    assert row["s"] == "https"
    assert row["h"] == "host.example.org"
    assert row["p"] == "8443"
    assert row["q"] == "q=1"
    # malformed crawl rows degrade deterministically, never fail
    assert row["fb"] == "no-scheme/page?x=1"


def test_html_to_text_edge_cases(spark):
    cases = {
        # comments, script/style content dropped; entities decoded;
        # block tags become line breaks; &amp; decoded LAST
        '<html><head><title>T &amp; U</title><style>p{x:1}</style>'
        '</head><body><!-- c --><script a="b">var x=1&&2;</script>'
        "<h1>Head</h1><p>one  two</p><ul><li>a</li><li>b</li></ul>"
        "<div>tail &lt;tag&gt; &#39;q&#39;&nbsp;end</div></body></html>":
            "T & U\nHead\none two\na\nb\ntail <tag> 'q' end",
        "plain text, no markup": "plain text, no markup",
        "<p>nested <b>bold <i>ital</i></b> done</p><br/><P C='x'>Next</P>":
            "nested bold ital done\nNext",
        # cased drop-content tags, self-closing svg member
        "<SCRIPT>s</SCRIPT>pre<STYLE a=b>s{}</STYLE>post<svg><c/></svg>":
            "pre post",
        # double-escaped entity does NOT double-decode
        "a &amp;lt; b": "a &lt; b",
        "": "",
    }
    pdf = pd.DataFrame(
        {"i": range(len(cases)), "html": list(cases.keys())}
    )
    got = (
        spark.createDataFrame(pdf)
        .select("i", html_to_text(F.col("html")).alias("t"))
        .orderBy("i")
        .toPandas()
    )
    for i, want in enumerate(cases.values()):
        assert got["t"][i] == want, f"case {i}: {got['t'][i]!r}"


def _domains_df(spark, n=400):
    # 4 domains with very different sizes (one 'mega' domain holding
    # more than half the rows) to exercise the cap under skew
    return spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 6, F.lit("mega.com"))
        .when(F.col("id") % 10 < 8, F.lit("mid.org"))
        .when(F.col("id") % 10 == 8, F.lit("small.net"))
        .otherwise(F.lit("tiny.io"))
        .alias("domain"),
        F.concat(F.lit("https://x/"), F.col("id")).alias("url"),
    )


def test_cap_per_domain_exact_and_salted_agree(spark):
    df = _domains_df(spark)
    exact = cap_per_domain(df, 7, "domain", "url")
    salted = cap_per_domain(df, 7, "domain", "url", salt=8)
    a = sorted((r["domain"], r["id"], r["domain_rank"])
               for r in exact.collect())
    b = sorted((r["domain"], r["id"], r["domain_rank"])
               for r in salted.collect())
    assert a == b
    # every domain capped at 7, ranks are 1..7
    per = {}
    for d, _, rk in a:
        per.setdefault(d, []).append(rk)
    assert set(per) == {"mega.com", "mid.org", "small.net", "tiny.io"}
    for d, ranks in per.items():
        assert sorted(ranks) == list(range(1, min(7, len(ranks)) + 1))


def test_domain_rank_is_md5_deterministic(spark):
    df = _domains_df(spark, n=50)
    r1 = {r["id"]: r["domain_rank"] for r in domain_rank(df).collect()}
    r2 = {r["id"]: r["domain_rank"]
          for r in domain_rank(df.repartition(7)).collect()}
    assert r1 == r2  # rank never depends on physical layout


def test_filter_url_blocklist(spark):
    pdf = pd.DataFrame({
        "host": [
            "ads.example.com", "example.com", "sub.deep.spam.net",
            "spam.net", "notspam.net", "fine.org",
        ]
    })
    kept = filter_url_blocklist(
        spark.createDataFrame(pdf), ["example.com", "spam.net"]
    )
    assert sorted(r["host"] for r in kept.collect()) == [
        "fine.org", "notspam.net",
    ]


def test_redact_pii_spans(spark):
    """Emails are redacted before phones (digits inside an email must
    not be half-eaten), IPv4 quads get their own token, and clean
    prose passes through byte-identical."""
    from melodist_spark.pipeline.text import redact_pii

    pdf = pd.DataFrame({
        "i": [0, 1, 2],
        "text": [
            "mail bob12345678@ex.com or call +1 (555) 123-4567 now",
            "server at 10.0.0.1 and 192.168.1.100:8080",
            "no pii in this sentence at all",
        ],
    })
    got = (
        spark.createDataFrame(pdf)
        .select("i", redact_pii(F.col("text")).alias("t"))
        .orderBy("i")
        .collect()
    )
    assert got[0]["t"] == "mail <EMAIL> or call <PHONE> now"
    assert got[1]["t"] == "server at <IP> and <IP>:8080"
    assert got[2]["t"] == "no pii in this sentence at all"


def test_paragraph_dedup_via_sep_params(spark):
    """line_dedup generalizes to paragraph-level dedup: a boilerplate
    paragraph shared across documents survives only at its first
    occurrence; single-newline lines inside a paragraph are NOT
    units; blank-run separators normalize to one blank line."""
    import pandas as pd

    from melodist_spark.pipeline.dedup import line_dedup

    boiler = "subscribe to our\nnewsletter for more"
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": [
            f"unique first para\n\n{boiler}\n\n\nunique tail one",
            f"{boiler}\n\nanother unique para",
        ],
    })
    out = {
        r["doc_id"]: r["text_deduped"]
        for r in line_dedup(
            spark.createDataFrame(pdf),
            sep_re=r"\n{2,}",
            join_sep="\n\n",
        ).collect()
    }
    # doc 1 wins the first occurrence (smallest (doc_id, pos))
    assert out[1] == f"unique first para\n\n{boiler}\n\nunique tail one"
    assert out[2] == "another unique para"


def test_surt_urlkey(spark):
    """SURT sort keys match the CDX urlkey convention: reversed
    comma-joined host, non-default port kept, lowercased path, sorted
    query, www/fragment/default-port dropped; scheme-less rows
    degrade like normalize_url."""
    from melodist_spark.pipeline.urls import surt

    cases = [
        ("https://www.Example.com/Path/x?b=2&a=1#f", "com,example)/path/x?a=1&b=2"),
        ("http://sub.test.co.uk:8080/", "uk,co,test,sub:8080)/"),
        ("https://example.com:443/a", "com,example)/a"),
        ("https://example.com", "com,example)/"),
        ("no-scheme-here", "no-scheme-here"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["u"])
    got = [r[0] for r in df.select(surt(F.col("u"))).collect()]
    assert got == [k for _, k in cases], got


def test_surt_and_normalize_never_raise(spark):
    """surt() and normalize_url() are total functions over junk input
    (hypothesis): no exception for any printable string — malformed
    crawl rows must degrade, not kill a task."""
    from hypothesis import given, settings, strategies as st

    from melodist_spark.pipeline.urls import normalize_url, surt

    collected = []

    @settings(max_examples=30, deadline=None)
    @given(st.text(min_size=0, max_size=60))
    def case(s):
        collected.append(s)

    case()
    df = spark.createDataFrame([(s,) for s in set(collected) if s is not None] or [("x",)], ["u"])
    out = df.select(surt(F.col("u")).alias("k"), normalize_url(F.col("u")).alias("n")).collect()
    assert len(out) >= 1  # the job completing IS the assertion


# ------------------------------------------------- main-content extraction


NAV = (
    '<header><ul><li><a href="/">Home</a></li><li><a href="/a">News</a>'
    '</li><li><a href="/b">Contact</a></li></ul></header>'
)
ARTICLE_P1 = (
    "The migration of the eastern monarch butterfly spans four "
    "generations and more than four thousand kilometres every year."
)
ARTICLE_P2 = (
    "Researchers tracked the 2025 cohort with citizen-science tags and "
    "found the overwintering colonies shifted north by eighty km."
)
SIDEBAR = (
    '<div><a href="/x">Related story one</a> <a href="/y">Related story '
    'two</a> <a href="/z">Related story three</a></div>'
)
FOOTER = "<footer>&copy; 2026 Example Media. All rights reserved.</footer>"
PAGE = (
    "<html><head><title>Monarchs</title><style>p{}</style></head><body>"
    + NAV
    + f"<article><h1>Monarch migration</h1><p>{ARTICLE_P1}</p>"
    + f"<p>{ARTICLE_P2} See <a href='/map'>the map</a>.</p></article>"
    + SIDEBAR
    + FOOTER
    + "</body></html>"
)


def test_extract_main_content_drops_boilerplate(spark):
    """The density scorer keeps the article paragraphs (long,
    low-link-density) and drops nav / link-box sidebar / footer /
    short headings — while html_to_text keeps everything."""
    from melodist_spark.pipeline.text import extract_main_content, html_to_text

    row = (
        spark.range(1)
        .select(
            extract_main_content(F.lit(PAGE)).alias("main"),
            html_to_text(F.lit(PAGE)).alias("naive"),
        )
        .first()
    )
    assert ARTICLE_P1 in row["main"]
    assert ARTICLE_P2 in row["main"]
    # an inline link INSIDE a content paragraph survives (low density)
    assert "the map" in row["main"]
    for boiler in ("Home", "News", "Contact", "Related story",
                   "All rights reserved", "Monarchs"):
        assert boiler not in row["main"], boiler
    # the naive tier keeps the boilerplate — that's the difference
    assert "Home" in row["naive"] and "Related story one" in row["naive"]


def test_extract_main_content_edges(spark):
    """Link-dominated long blocks drop (density cap); a page with no
    qualifying block yields '' and composes with the documented
    html_to_text fallback; plain text over min_chars passes through."""
    from melodist_spark.pipeline.text import extract_main_content, html_to_text

    linky = "<p>" + " ".join(
        f'<a href="/{i}">crumb trail part number {i}</a>' for i in range(12)
    ) + "</p>"
    plain = "Just a plain paragraph of honest prose " * 3
    rows = spark.createDataFrame(
        [(linky,), ("<p>short</p>",), (plain,), ("",)], ["h"]
    ).select(
        extract_main_content(F.col("h")).alias("m"),
        F.coalesce(
            F.nullif(extract_main_content(F.col("h")), F.lit("")),
            html_to_text(F.col("h")),
        ).alias("with_fallback"),
        "h",
    ).collect()
    by = {r["h"][:12]: r for r in rows}
    assert by[linky[:12]]["m"] == ""  # link-dense: dropped
    assert by["<p>short</p>"[:12]]["m"] == ""  # under min_chars
    assert by["<p>short</p>"[:12]]["with_fallback"] == "short"
    assert plain.strip() == by[plain[:12]]["m"]  # plain text passes
    assert by[""[:12]]["m"] == ""


def test_extract_main_content_plan_pure_codegen(spark):
    """Scale contract: the block scorer is split + nested
    higher-order transform/filter/aggregate — no Python stage, no
    explode, no shuffle."""
    from melodist_spark.pipeline.text import extract_main_content

    df = spark.createDataFrame([(PAGE,)], ["h"]).select(
        extract_main_content(F.col("h")).alias("m")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "Exchange", "Generate"):
        assert bad not in plan, bad


def test_extract_main_content_dom_nested_layouts(spark):
    """VERDICT r8 item 5: the stack-based DOM tier recovers content
    the flat density scorer deletes — a paragraph fragmented across
    per-word inline tags inside table soup (the flat text-to-markup
    floor kills the block) — and drops wordy link-free chrome the
    flat scorer keeps (text under nav/header/footer/aside
    ancestors)."""
    from melodist_spark.pipeline.text import (
        extract_main_content,
        extract_main_content_dom,
    )

    wrapped = " ".join(f"<b>{w}</b>" for w in ARTICLE_P1.split())
    nested = (
        '<html><body><header><ul><li><a href="/">Home</a></li></ul>'
        f'</header><table><tr><td><font size="2"><span>{wrapped}'
        "</span></font></td><td><a href='/x'>Related one</a> "
        "<a href='/y'>Related two</a></td></tr></table></body></html>"
    )
    wordy_chrome = (
        f"<body><p>{ARTICLE_P1}</p><footer>All rights reserved by the "
        "example media company worldwide in perpetuity and beyond"
        "</footer><nav>here are fifteen plain words of pure navigation "
        "chrome that look like a sentence today</nav></body>"
    )
    rows = spark.createDataFrame(
        [(1, nested), (2, wordy_chrome)], ["i", "html"]
    ).select(
        "i",
        extract_main_content(F.col("html")).alias("flat"),
        extract_main_content_dom(F.col("html")).alias("dom"),
    ).orderBy("i").collect()

    # nested layout: flat deletes the article, DOM recovers exactly it
    assert rows[0]["flat"] == ""
    assert rows[0]["dom"] == ARTICLE_P1
    # wordy chrome: flat keeps the footer (long, link-free, low tag
    # density — its signals can't see it); the stack can
    assert "All rights reserved" in rows[1]["flat"]
    assert rows[1]["dom"] == ARTICLE_P1
    assert "navigation" not in rows[1]["dom"]


def test_extract_main_content_dom_agrees_on_straight_line_pages(spark):
    """On the flat scorer's home turf (straight-line crawl markup,
    the PAGE fixture) the two tiers return the same survivors — the
    DOM tier only ever changes nested/chrome cases."""
    from melodist_spark.pipeline.text import (
        extract_main_content,
        extract_main_content_dom,
    )

    row = (
        spark.range(1)
        .select(
            extract_main_content(F.lit(PAGE)).alias("flat"),
            extract_main_content_dom(F.lit(PAGE)).alias("dom"),
        )
        .first()
    )
    assert row["dom"] == row["flat"]


def test_extract_main_content_dom_edges():
    """Kernel-level edges, pure function: malformed nesting (a close
    that skips intermediates), unclosed chrome, self-closing block
    tags, bare '<' literals, entity decode, None passthrough."""
    from melodist_spark.pipeline.text import _dom_extract_one

    para = (
        "a perfectly ordinary paragraph of at least ten honest words "
        "for the floors to pass"
    )
    # close </td> pops through the unclosed <p>
    assert _dom_extract_one(f"<table><tr><td><p>{para}</td></tr></table>",
                            40, 10, 0.4) == para
    # unclosed <footer> poisons the rest of the page (documented)
    assert _dom_extract_one(f"<footer>x<div>{para}</div>", 40, 10, 0.4) == ""
    # self-closing block tag must not leak onto the stack
    assert _dom_extract_one(f"<header/><p>{para}</p>", 40, 10, 0.4) == para
    # bare '<' is literal text, not a tag
    got = _dom_extract_one(f"<p>{para} worth < 3 dollars &amp; up</p>",
                           40, 10, 0.4)
    assert got == f"{para} worth < 3 dollars & up"
    assert _dom_extract_one(None, 40, 10, 0.4) is None


def test_extract_main_content_dom_declarations_and_title():
    """Round 10 (ADVICE r9): '<!DOCTYPE html>' / '<?xml ...?>'
    declarations are markup, not text — under lenient floors they
    must not leak into the first extracted block — and <title> text
    is dropped by the DOM tier (it is neither block nor chrome in
    the flat grammar, so it used to ride into the first block)."""
    from melodist_spark.pipeline.text import _dom_extract_one

    para = (
        "a perfectly ordinary paragraph of at least ten honest words "
        "for the floors to pass"
    )
    page = (
        "<!DOCTYPE html><html><head><title>Site Name Here</title>"
        f"</head><body><p>{para}</p></body></html>"
    )
    # lenient floors: everything textual survives — the declaration
    # and the title must still be absent
    out = _dom_extract_one(page, 1, 1, 1.0)
    assert "DOCTYPE" not in out
    assert "Site Name" not in out
    assert para in out
    # xml declaration, same contract
    out2 = _dom_extract_one(f'<?xml version="1.0"?><p>{para}</p>', 1, 1, 1.0)
    assert "xml" not in out2
    assert para in out2
    # declarations inside a skipped subtree stay skipped
    assert _dom_extract_one(
        f"<script><!DOCTYPE html></script><p>{para}</p>", 40, 10, 0.4
    ) == para
    # default floors: unchanged happy path
    assert _dom_extract_one(page, 40, 10, 0.4) == para


def test_extract_main_content_dom_plan_arrow_only(spark):
    """Scale contract: the DOM tier is ONE ArrowEvalPython projection
    on the scan — no row-Python, no exchange, no explode (the Gopher
    repetition family's contracted shape)."""
    from melodist_spark.pipeline.text import extract_main_content_dom

    df = spark.createDataFrame([(PAGE,)], ["h"]).select(
        extract_main_content_dom(F.col("h")).alias("m")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    for bad in ("BatchEvalPython", "Exchange", "Generate"):
        assert bad not in plan, bad
