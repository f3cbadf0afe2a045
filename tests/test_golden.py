"""Golden byte-freeze: full output bytes per (fixture url, params).

Per FIXTURES.md §4: after the assertion-parity tests go green, the full
output bytes are frozen here (tests/golden/extraction.json) and every
later run must reproduce them EXACTLY -- this guards regressions and the
byte-stability half of the scaling requirement. The file is generated on
first run (pure core kernel, no Spark) and committed.
"""

import json
import os

import pytest

from sift_spark.core.counters import CHARS, TOKENS, WORDS
from sift_spark.core.pipeline import SiftParams, run_sift
from sift_spark.sources.fixtures import big_page_html, fixture_rows

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden",
                           "extraction.json")

PARAM_GRID = {
    "default": SiftParams(),  # tokens/2500 (fallback tokenizer), beginning
    "words50": SiftParams(counting_method=WORDS, max_units=50),
    "chars200": SiftParams(counting_method=CHARS, max_units=200),
    "middle30": SiftParams(counting_method=WORDS, max_units=30,
                           strategy="middle"),
    "end30": SiftParams(counting_method=WORDS, max_units=30, strategy="end"),
    "include_all": SiftParams(counting_method=WORDS, max_units=0,
                              include_all=True),
    "search": SiftParams(counting_method=WORDS, max_units=0,
                         search_query="sifting flour"),
    "search_budget": SiftParams(counting_method=WORDS, max_units=40,
                                search_query="sifting flour"),
    "smart_context": SiftParams(counting_method=WORDS, max_units=0,
                                search_query="sifting flour",
                                context_units=30),
    "selector_p": SiftParams(selector="p", counting_method=WORDS,
                             max_units=0),
    "tokens120": SiftParams(counting_method=TOKENS, max_units=120),
}


def _corpus():
    docs = [(url, bytes(html).decode("utf-8"))
            for url, _ts, html, _t, _l in fixture_rows()]
    docs += [(f"synthetic://big-{k}", big_page_html(k)) for k in range(4)]
    return docs


def _generate():
    golden = {}
    for url, html in _corpus():
        for param_name, params in PARAM_GRID.items():
            text, error = run_sift(html, params)
            golden[f"{url}|{param_name}"] = {
                "text": text, "error": error,
            }
    return golden


@pytest.fixture(scope="module")
def golden():
    if not os.path.exists(GOLDEN_PATH):
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        with open(GOLDEN_PATH, "w") as fh:
            json.dump(_generate(), fh, indent=1, sort_keys=True)
    with open(GOLDEN_PATH) as fh:
        return json.load(fh)


def test_golden_bytes(golden):
    generated = _generate()
    assert set(generated) == set(golden)
    for key, expected in golden.items():
        got = generated[key]
        assert got["error"] == expected["error"], key
        assert got["text"] == expected["text"], (
            f"byte drift at {key}: {got['text']!r} != {expected['text']!r}"
        )


def test_golden_covers_grid(golden):
    urls = {key.split("|")[0] for key in golden}
    assert "fixture://simple" in urls and "synthetic://big-0" in urls
    assert len(golden) == len(_corpus()) * len(PARAM_GRID)


# ---- per-case edge goldens ----------------------------------------------------------
#
# The reference's selector/nested/malformed tables
# (/root/reference/internal/extract/extract_test.go:125-196,341-433) are
# covered as assertions in tests/test_core_extract.py; here the SAME
# cases are byte-frozen individually so a kernel change points at the
# exact diverging case instead of a corpus-wide byte drift.

CASES_PATH = os.path.join(os.path.dirname(__file__), "golden",
                          "extraction_cases.json")

EDGE_CASES = {
    # extract_test.go:125-196 (selector table)
    "simple-readability": ("SIMPLE", ""),
    "blog-readability": ("BLOG", ""),
    "article-selector": ("SIMPLE", "article"),
    "class-selector": ("BLOG", ".post-content"),
    "h3-multi-match": ("BLOG", "h3"),
    "ol-selector": ("BLOG", "ol"),
    "blockquote-selector": ("BLOG", "blockquote"),
    "nonexistent-selector": ("SIMPLE", ".non-existent"),
    "invalid-selector": ("SIMPLE", ">>invalid<<"),
    "malformed-with-selector": ("MALFORMED", ".content"),
    "empty-html": ("", ""),
    "whitespace-only-html": ("   \n\t   ", ""),
    # extract_test.go:329-360 (edge-case table)
    "whitespace-only-div": (
        "<html><body><div>   \\n\\t   </div></body></html>", "div"),
    "nested-selectors": (
        '<html><body><div class="outer"><div class="inner">Content'
        "</div></div></body></html>", ".outer .inner"),
    "multiple-matching": (
        "<html><body><p>Para 1</p><p>Para 2</p><p>Para 3</p></body></html>",
        "p"),
    "complex-nested": (
        "<html><body><div><article><header><h1>Title</h1></header>"
        "<section><p>Content</p></section></article></div></body></html>",
        "article"),
    # extract_test.go:385-433 (line-break table)
    "br-line-breaks": (
        "<html><body><p>Line one<br>Line two<br>Line three</p></body></html>",
        "p"),
    "br-self-closing": (
        "<html><body><p>First line<br/>Second line</p></body></html>", "p"),
    "br-multiple": (
        "<html><body><p>Line one<br><br>Line two</p></body></html>", "p"),
    # round-3 selector long tail: sibling combinators + child-position
    # pseudo-classes (cascadia accepts these; extract.go:61-70)
    "first-child": (
        "<html><body><article><p>lead para</p><p>second para</p>"
        "</article></body></html>", "article > p:first-child"),
    "last-child": (
        "<html><body><article><p>lead para</p><p>tail para</p>"
        "</article></body></html>", "p:last-child"),
    "nth-child-odd": (
        "<html><body><ul><li>one</li><li>two</li><li>three</li>"
        "<li>four</li></ul></body></html>", "li:nth-child(odd)"),
    "nth-child-anb": (
        "<html><body><ul><li>one</li><li>two</li><li>three</li>"
        "<li>four</li><li>five</li></ul></body></html>",
        "li:nth-child(3n+1)"),
    "adjacent-sibling": (
        "<html><body><h2>Header</h2><p>right after</p><p>further down</p>"
        "</body></html>", "h2 + p"),
    "general-sibling": (
        "<html><body><h2>Header</h2><p>first after</p><div>break</div>"
        "<p>second after</p></body></html>", "h2 ~ p"),
    "pseudo-zero-match": (
        "<html><body><div><p>only child</p></div></body></html>",
        "p:nth-child(2)"),
    "pseudo-parse-error": (
        "<html><body><p>text</p></body></html>", "p:nth-child(banana)"),
    "not-selector": (
        '<html><body><p class="ad">sponsored</p><p>real one</p>'
        "<p>real two</p></body></html>", "p:not(.ad)"),
    "nth-of-type": (
        "<html><body><h2>head</h2><p>one</p><p>two</p><p>three</p>"
        "</body></html>", "p:nth-of-type(2)"),
    "only-of-type": (
        "<html><body><div><p>solo para</p><span>x</span><span>y</span>"
        "</div></body></html>", "p:only-of-type"),
}


def _case_html(spec):
    from tests.fixtures import BLOG_POST_HTML, MALFORMED_HTML, SIMPLE_HTML

    return {"SIMPLE": SIMPLE_HTML, "BLOG": BLOG_POST_HTML,
            "MALFORMED": MALFORMED_HTML}.get(spec, spec)


def _generate_cases():
    from sift_spark.core.extract import to_markdown

    out = {}
    for name, (html_spec, selector) in EDGE_CASES.items():
        text, error = to_markdown(_case_html(html_spec), selector=selector)
        out[name] = {"text": text, "error": error}
    return out


@pytest.fixture(scope="module")
def golden_cases():
    if not os.path.exists(CASES_PATH):
        with open(CASES_PATH, "w") as fh:
            json.dump(_generate_cases(), fh, indent=1, sort_keys=True)
    with open(CASES_PATH) as fh:
        return json.load(fh)


@pytest.mark.parametrize("name", sorted(EDGE_CASES))
def test_golden_edge_case(golden_cases, name):
    got = _generate_cases()[name]
    assert got["error"] == golden_cases[name]["error"], name
    assert got["text"] == golden_cases[name]["text"], (
        f"byte drift at {name}: {got['text']!r} != "
        f"{golden_cases[name]['text']!r}"
    )
