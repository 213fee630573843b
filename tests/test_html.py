"""HTML main-content extraction: boilerplate strip + DOM-block
heuristics on REAL html columns (the production path; the driver
queries run them over decorate_html of the synthetic corpus)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from camelot_spark.tdp import html as h


def _page(body: str) -> str:
    return (
        "<html><head><title>t</title><script>var a = '<p>not text</p>';"
        "</script><style>p { color: red; }</style></head><body>"
        + body + "</body></html>"
    )


def test_strip_html_real_column(spark):
    df = spark.createDataFrame(
        [(1, _page("<p>hello &amp; goodbye &lt;world&gt;</p>")),
         (2, _page('<div>plain <b>bold</b>&nbsp;text</div>'))],
        "doc_id long, html string",
    )
    out = {r["doc_id"]: r for r in h.strip_html(df).collect()}
    assert out[1]["clean_text"] == "t hello & goodbye <world>"
    assert out[2]["clean_text"] == "t plain bold text"
    assert out[1]["n_tags"] > 0


def test_main_content_classifies_blocks(spark):
    body = (
        '<nav><a href="/">home</a> <a href="/a">about</a> <a href="/c">contact us</a></nav>'
        "<p>this is the long main article body with many meaningful words inside</p>"
        '<div><a href="/x">one</a> <a href="/y">two</a> <a href="/z">three</a></div>'
        "<p>short</p>"
        "<p>a second real paragraph of genuine readable content for the reader</p>"
        '<footer><a href="/t">terms</a> <a href="/p">privacy</a></footer>'
    )
    df = spark.createDataFrame([(7, _page(body))], "doc_id long, html string")
    row = h.main_content(df).collect()[0]
    # nav/link-div/footer -> boilerplate (link density), "short" -> too
    # few words; the two real paragraphs survive in document order
    assert row["n_content_blocks"] == 2
    assert row["main_text"] == (
        "this is the long main article body with many meaningful words inside "
        "a second real paragraph of genuine readable content for the reader"
    )
    assert row["n_blocks"] >= 5


def test_html_operators_are_shuffle_free(spark):
    """The whole strip + block-classify pipeline is per-row regexp/array
    codegen on the scan: no Exchange, no Generate at any scale."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn in (lambda d: h.strip_html(h.decorate_html(d)),
               lambda d: h.main_content(h.decorate_html(d))):
        plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Generate" not in plan


def _py_strip(html: str) -> str:
    """Independent Python reference of the strip chain."""
    import re

    s = re.sub(r"(?s)<script[^>]*>.*?</script>", " ", html)
    s = re.sub(r"(?s)<style[^>]*>.*?</style>", " ", s)
    s = re.sub(r"<[^>]*>", " ", s)
    s = s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
    s = s.replace("&nbsp;", " ")
    return re.sub(r" +", " ", s).strip()


def test_main_content_matches_python_reference(spark):
    """Randomized HTML pages vs a direct Python implementation of the
    block classifier — guards the array-algebra formulation
    independently of the DuckDB oracle's fixed decoration."""
    import random
    import re

    rng = random.Random(23)
    words = ["alpha", "beta", "gamma", "delta", "reader", "content", "x"]

    def rand_block():
        kind = rng.choice(["p", "div", "li", "h2", "nav", "footer"])
        n = rng.randint(1, 14)
        parts = []
        for _ in range(n):
            w = rng.choice(words)
            if rng.random() < 0.3:
                parts.append(f'<a href="/{w}">{w}</a>')
            else:
                parts.append(w)
        return f"<{kind}>" + " ".join(parts) + f"</{kind}>"

    pages = []
    for i in range(40):
        body = "".join(rand_block() for _ in range(rng.randint(1, 8)))
        pages.append((i, f"<html><body>{body}</body></html>"))
    df = spark.createDataFrame(pages, "doc_id long, html string")
    got = {r["doc_id"]: (r["n_blocks"], r["n_content_blocks"], r["main_text"])
           for r in h.main_content(df).collect()}

    for doc_id, html in pages:
        blocks = re.split(r"</(?:p|div|nav|footer|li|h1|h2|h3)>", html)
        scored = []
        for b in blocks:
            text = _py_strip(b)
            if not text:
                continue
            links = sum(len(t) for t in re.findall(r"<a [^>]*>([^<]*)</a>", b))
            n_words = len(text.split(" "))
            density = int(links * 10000 / len(text))
            scored.append((text, n_words, density))
        content = [t for (t, n, d) in scored if n >= 5 and d <= 3333]
        want = (len(scored), len(content), " ".join(content))
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_extract_links_real_column(spark):
    df = spark.createDataFrame(
        [(3, _page('<p>see <a href="/x">first</a> then <a class="b" href="/y">second one</a></p>'))],
        "doc_id long, html string",
    )
    rows = h.extract_links(df).collect()
    assert [(r["link_idx"], r["href"], r["anchor_text"]) for r in rows] == [
        (0, "/x", "first"), (1, "/y", "second one")]
