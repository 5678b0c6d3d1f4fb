"""jd-shaped end-to-end extraction (mirrors /root/reference/example/jd/main.go).

The 8-field collector over detail pages, including both follow-up-fetch
fields (GetFromNextPage → left join), compared row-for-row against the pure
Python oracle built from the rule kernels.
"""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from crawler_spark.collector import Field, FollowUp, extract_fields
from crawler_spark.corpus import make_corpus
from crawler_spark.examples.jd import jd_fields, oracle_row
from crawler_spark.frontier.canon import canonicalize_url
from crawler_spark.rules import CutRule, NoopRule, RegexRule, Trans, XPathRule

CAT = "charity"


@pytest.fixture(scope="module")
def corpus_tables():
    return make_corpus(seed=42, n_hosts=4, pages_per_host=5)


def test_jd_extraction_matches_oracle(spark, corpus_tables):
    pages_pd = corpus_tables["pages"]
    corpus_dict = {r.url: bytes(r.html).decode("utf-8") for r in pages_pd.itertuples()}
    detail_urls = [u for u in corpus_dict if "/project/details/" in u]
    assert len(detail_urls) >= 10

    pages = spark.createDataFrame(pages_pd).select(
        F.col("url").alias("url_canon"), "html"
    )
    fetched = pages.filter(F.col("url_canon").isin(detail_urls))
    out = extract_fields(fetched, jd_fields(CAT), corpus=pages)
    got = {r["url_canon"]: r.asDict() for r in out.collect()}

    assert set(got) == set(detail_urls)
    for url in detail_urls:
        want = oracle_row(url, corpus_dict[url], corpus_dict, CAT)
        g = {k: v for k, v in got[url].items() if k != "url_canon"}
        assert g == want, url

    n_tiers = [int(got[u]["n_tiers"]) for u in detail_urls]
    assert max(n_tiers) >= 1
    assert any(got[u]["funder_supported"] != "" for u in detail_urls)
    assert any(got[u]["min_price"] not in ("", "0") for u in detail_urls)


def test_follow_up_missing_page_yields_empty(spark, corpus_tables):
    """URL whose id has no funder page → '' (GetFromNextPage error path,
    util.go:56-59: rule NOT applied on fetch failure)."""
    pages = spark.createDataFrame(corpus_tables["pages"]).select(
        F.col("url").alias("url_canon"), "html"
    )
    fake = spark.createDataFrame(
        [("https://z.example/project/details/999999.html", b"<p class='p-title'>x</p>")],
        "url_canon string, html binary",
    )
    out = extract_fields(fake, jd_fields(CAT), corpus=pages).collect()[0]
    assert out["funder_supported"] == ""
    assert out["funder_started"] == ""


# ---------------------------------------------------------------------------
# FollowUp.url_format contract: url_expr is prefix + value + suffix, which
# equals str.format only for one bare "{}"
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "fmt",
    [
        "https://x.example/f",  # no placeholder: the value would be appended
        "https://x.example/f?a={}&b={}",  # the second "{}" would stay literal
        "https://x.example/f?q={{x}}&id={}",  # "{{"/"}}" would stay doubled
    ],
)
def test_follow_up_rejects_format_that_str_format_reads_differently(fmt):
    with pytest.raises(ValueError, match="exactly one"):
        FollowUp(fmt, NoopRule())


def test_follow_up_url_expr_equals_str_format(spark):
    fu = FollowUp("https://x.example/f?id={}&v=2", NoopRule())
    df = spark.createDataFrame([("7",), ("",)], ["v"])
    got = [r[0] for r in df.select(fu.url_expr(F.col("v"))).collect()]
    assert got == [fu.url_format.format("7"), fu.url_format.format("")]


# ---------------------------------------------------------------------------
# Fusion: every Python rule rides one struct UDF per input column, and
# follow-up fields fetching the same page share one join
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _count_nodes(plan: str, pattern: str) -> int:
    return len(re.findall(rf"^\(\d+\) {pattern}", plan, re.M))


def _arrow_udfs(plan: str) -> list[int]:
    """Python UDFs evaluated by each ArrowEvalPython node of the plan."""
    args = re.findall(r"^\(\d+\) ArrowEvalPython\nInput .*\nArguments: (.*)$", plan, re.M)
    return [len(re.findall(r"pythonUDF\d+#", a)) for a in args]


MIX_PAGES = [
    ("https://d.example/p/11.html", '<div id="m"><p class="t">Alpha</p><b>(x)</b></div>'),
    ("https://d.example/p/22.html", "<p>no title here</p> 5 and 6"),
    ("https://d.example/p/33.html", ""),
]


def test_mixed_python_rules_match_get_first(spark):
    """Python-only rules of every kind, over html and over the url, each
    equal to its own get_first — and planned as ONE Arrow evaluation."""
    fields = [
        Field("cut_py", CutRule('<p class="t">', "</p>", Trans(py=str.upper))),
        Field("noop_py", NoopRule(Trans(py=lambda s: str(len(s))))),
        Field("regex_py", RegexRule(r"\d+", java_safe=False)),
        Field("xpath", XPathRule("//div[@id='m']/b", Trans(py=lambda s: s.strip("()")))),
        Field("url_py", CutRule("/p/", ".html", Trans(py=lambda s: s[::-1])), from_url=True),
        Field("title", CutRule("<p", "</p>")),
    ]
    df = spark.createDataFrame(MIX_PAGES, "url_canon string, html string")
    out = extract_fields(df, fields)
    plan = _plan(out)
    # one struct UDF over html and one over the url, side by side
    assert _arrow_udfs(plan) == [2], plan
    got = {r["url_canon"]: r.asDict() for r in out.collect()}
    for url, html in MIX_PAGES:
        for f in fields:
            want = f.rule.get_first(url if f.from_url else html)
            assert got[url][f.name] == want, (url, f.name)
    assert got["https://d.example/p/11.html"]["xpath"] == "x"
    assert got["https://d.example/p/22.html"]["url_py"] == "22"


FU_PAGES = [
    ("https://d.example/p/1.html", "detail 1"),
    ("https://d.example/p/2.html", "detail 2"),
    ("https://d.example/p/3.html", "detail 3"),
    ("https://f.example/fund/1", '<i class="a"> 10 </i> [20]'),
    ("https://f.example/fund/2", '<i class="a">11</i>'),
    ("https://g.example/alt?id=1", "<i>alt-1</i>"),
    ("https://g.example/alt?id=3", "<i>alt-3</i>"),
]
FU_A = "https://f.example/fund/{}"
FU_B = "https://g.example/alt?id={}"


def _by_id(name, url_format, rule):
    """A follow-up field keyed by the detail url's number; each call builds
    its own (equal) base rule."""
    return Field(name, RegexRule("[0-9]+"), from_url=True, follow_up=FollowUp(url_format, rule))


def test_follow_ups_sharing_a_target_share_one_join(spark):
    fields = [
        _by_id("fa", FU_A, XPathRule("//i[@class='a']", Trans(py=str.strip))),
        _by_id("fb", FU_A, CutRule("[", "]")),
        _by_id("alt", FU_B, XPathRule("//i")),
    ]
    corpus = spark.createDataFrame(FU_PAGES, "url_canon string, html string")
    detail = corpus.filter(F.col("url_canon").contains("/p/"))
    out = extract_fields(detail, fields, corpus=corpus)
    plan = _plan(out)
    assert _count_nodes(plan, r"\w*Join") == 2, plan  # fa+fb share one; alt has its own
    assert plan.count("_canon_udf(") == 2, plan
    got = {r["url_canon"]: r.asDict() for r in out.collect()}
    pages = dict(FU_PAGES)
    assert set(got) == {u for u in pages if "/p/" in u}
    for url, row in got.items():
        for f in fields:
            fu_url = f.follow_up.url_format.format(f.rule.get_first(url))
            page = pages.get(canonicalize_url(fu_url))
            want = "" if page is None else f.follow_up.rule.get_first(page)
            assert row[f.name] == want, (url, f.name)
    first = got["https://d.example/p/1.html"]
    assert (first["fa"], first["fb"]) == ("10", "20")
    assert got["https://d.example/p/3.html"]["alt"] == "alt-3"


def test_missing_follow_up_page_skips_every_rule_of_its_group(spark):
    """A rule that would turn "" into "X" must not run on a missing page:
    every field of the group reads ""."""
    to_x = Trans(py=lambda s: s or "X")
    fields = [
        _by_id("n", FU_A, NoopRule(to_x)),
        _by_id("i", FU_A, XPathRule("//i", to_x)),
    ]
    corpus = spark.createDataFrame(FU_PAGES, "url_canon string, html string")
    detail = corpus.filter(F.col("url_canon").contains("/p/"))
    out = extract_fields(detail, fields, corpus=corpus)
    got = {r["url_canon"]: (r["n"], r["i"]) for r in out.collect()}
    assert NoopRule(to_x).get_first("") == "X"
    assert got["https://d.example/p/3.html"] == ("", "")  # no fund/3 page
    assert got["https://d.example/p/2.html"] == (dict(FU_PAGES)[FU_A.format(2)], "11")
