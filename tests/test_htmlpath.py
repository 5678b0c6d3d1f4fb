"""HTML parser + XPath-subset engine tests (crawler_spark.rules.htmlpath)."""

import pytest
from pyspark.sql import functions as F

from crawler_spark.rules import XPathRule, core, xpath_struct_expr
from crawler_spark.rules.htmlpath import (
    XPathError,
    compile_xpath,
    html_visible_text,
    html_xpath_first,
    parse_html,
    xpath_all,
)

DOC = """
<html><head><title>T</title></head><body>
<div id="mainframe">
  <div>first</div>
  <div><div><span>deep</span></div>
    <div class="c1"><a href="/x"><i> 42 </i></a><a href="/y"><i>7</i></a></div>
  </div>
  <p class="p-title">Hello World</p>
  <ul><li>one<li>two<li>three</ul>
  <img src="a.png" alt="x">
</div>
</body></html>
"""


def test_basic_child_and_index():
    assert html_xpath_first(DOC, "/html/body/div/div[1]") == "first"
    assert html_xpath_first(DOC, "//div[@id='mainframe']/div[1]") == "first"


def test_jd_shaped_path():
    # mirrors example/jd/main.go:116-125 shape
    v = html_xpath_first(DOC, '//*[@id="mainframe"]/div[2]/div[2]/a[1]/i')
    assert v == " 42 "
    v2 = html_xpath_first(DOC, '//*[@id="mainframe"]/div[2]/div[2]/a[2]/i')
    assert v2 == "7"


def test_string_value_concatenates_descendant_text():
    assert html_xpath_first(DOC, "//div[@class='c1']") == " 42 7"


def test_attribute_selection():
    assert html_xpath_first(DOC, "//a[1]/@href") == "/x"
    assert html_xpath_first(DOC, "//img/@alt") == "x"


def test_predicates():
    assert html_xpath_first(DOC, "//p[@class='p-title']") == "Hello World"
    assert html_xpath_first(DOC, "//div[contains(@class, 'c')]") == " 42 7"
    assert html_xpath_first(DOC, "//li[2]") == "two"
    assert html_xpath_first(DOC, "//li[last()]") == "three"
    assert html_xpath_first(DOC, "//div[a]/a[2]") == "7"
    assert html_xpath_first(DOC, "//p[not(@class)]") is None


def test_implied_li_close():
    root = parse_html(DOC)
    lis = xpath_all(root, "//ul/li")
    assert [n.string_value() for n in lis] == ["one", "two", "three"]


def test_no_match_and_bad_path():
    assert html_xpath_first(DOC, "//nosuch") is None
    assert core.xpath_get_first(DOC, "//nosuch") == ""
    assert core.xpath_get(DOC, "//nosuch") == []


def test_fragment_gets_html_body():
    frag = "<div id='a'>x</div>"
    assert html_xpath_first(frag, "/html/body/div[@id='a']") == "x"
    # head elements hoisted
    frag2 = "<title>t</title><div>b</div>"
    assert html_xpath_first(frag2, "/html/head/title") == "t"
    assert html_xpath_first(frag2, "/html/body/div") == "b"


def test_descendant_excludes_self():
    root = parse_html("<div id='outer'><div id='inner'>x</div></div>")
    outer = xpath_all(root, "//div[@id='outer']")[0]
    # .//div from outer must NOT include outer itself
    inner = xpath_all(outer, ".//div")
    assert [n.attrs.get("id") for n in inner] == ["inner"]


def test_document_order_first_match():
    doc = "<div><b>1</b></div><div><b>2</b></div>"
    assert html_xpath_first(doc, "//b") == "1"


def test_entities_decoded():
    assert html_xpath_first("<p>a &amp; b</p>", "//p") == "a & b"


def test_visible_text():
    t = html_visible_text(
        "<html><body><p> Hello   <b>World</b></p><script>var x=1;</script></body></html>"
    )
    assert t == "Hello World"


def test_xpath_rule_trans():
    out = core.xpath_get_first(DOC, '//*[@id="mainframe"]/div[2]/div[2]/a[1]/i', str.strip)
    assert out == "42"


# ---------------------------------------------------------------------------
# explicit axes (vendor doc.go:15 "All axes are supported, except namespace")
# ---------------------------------------------------------------------------

TABLE = """
<table>
  <tr><th>k1</th><td>v1</td><td>v1b</td></tr>
  <tr><th>k2</th><td>v2</td></tr>
</table>
<div class="after">tail</div>
"""


def test_axis_child_equals_abbreviated():
    assert html_xpath_first(DOC, "/child::html/child::body/child::div/child::div[1]") == "first"


def test_axis_following_sibling():
    # the very common scraping idiom: label -> value cell
    assert html_xpath_first(TABLE, "//th[text()='k1']/following-sibling::td") == "v1"
    assert html_xpath_first(TABLE, "//th[text()='k2']/following-sibling::td") == "v2"
    vals = [n.string_value() for n in xpath_all(parse_html(TABLE), "//th/following-sibling::td")]
    assert vals == ["v1", "v1b", "v2"]


def test_axis_preceding_sibling_reverse_positions():
    # preceding-sibling::td[1] = NEAREST preceding td (reverse axis order)
    assert html_xpath_first(TABLE, "//td[text()='v1b']/preceding-sibling::td[1]") == "v1"
    assert html_xpath_first(TABLE, "//td[text()='v1b']/preceding-sibling::th[1]") == "k1"


def test_axis_ancestor_and_or_self():
    root = parse_html(DOC)
    deep = xpath_all(root, "//span")[0]
    tags = [n.tag for n in xpath_all(deep, "ancestor::div")]
    # doc-order output: outermost first
    assert tags == ["div", "div", "div"]
    assert html_xpath_first(DOC, "//span/ancestor::div[1]/parent::div/@id") is None  # inner div has no id
    assert html_xpath_first(DOC, "//span/ancestor::*[@id]/@id") == "mainframe"
    ors = xpath_all(deep, "ancestor-or-self::*")
    assert ors[-1] is deep


def test_axis_parent_self_descendant():
    assert html_xpath_first(DOC, "//span/parent::div/self::div/descendant::span") == "deep"
    assert html_xpath_first(DOC, "//body/descendant-or-self::p") == "Hello World"


def test_axis_following_preceding():
    # following:: excludes descendants; preceding:: excludes ancestors
    assert html_xpath_first(TABLE, "//table/following::div") == "tail"
    root = parse_html(TABLE)
    last_td = xpath_all(root, "//td[text()='v2']")[0]
    prec = [n.tag for n in xpath_all(last_td, "preceding::th")]
    assert prec == ["th", "th"]  # both headers precede, neither is an ancestor
    # preceding::th[1] = nearest = k2's own header
    assert html_xpath_first(TABLE, "//td[text()='v2']/preceding::th[1]") == "k2"


def test_axis_attribute():
    assert html_xpath_first(DOC, "//a/attribute::href") == "/x"
    assert html_xpath_first(DOC, "//img/attribute::src") == "a.png"


def test_axis_inside_predicate():
    # predicate operand using an explicit axis
    assert html_xpath_first(TABLE, "//td[preceding-sibling::th='k2']") == "v2"


def test_unknown_axis_is_error():
    assert html_xpath_first(DOC, "//namespace::x") is None
    assert html_xpath_first(DOC, "//bogus::div") is None


# ---------------------------------------------------------------------------
# parenthesized predicate grouping (vendor doc.go:19)
# ---------------------------------------------------------------------------

PRED_DOC = """
<ul>
  <li class="a" data-x="1">A</li>
  <li class="b">B</li>
  <li class="c" data-x="1">C</li>
  <li class="a">D</li>
</ul>
"""


def test_parenthesized_predicates():
    root = parse_html(PRED_DOC)
    got = [n.string_value() for n in xpath_all(root, "//li[(@class='a' or @class='c') and @data-x]")]
    assert got == ["A", "C"]
    # without parens, 'or' binds loosest: a OR (c and data-x)
    got2 = [n.string_value() for n in xpath_all(root, "//li[@class='a' or @class='c' and @data-x]")]
    assert got2 == ["A", "C", "D"]
    got3 = [n.string_value() for n in xpath_all(root, "//li[not((@class='a' or @class='c'))]")]
    assert got3 == ["B"]
    got4 = [n.string_value() for n in xpath_all(root, "//li[(not(@data-x)) and (@class='a')]")]
    assert got4 == ["D"]


def test_position_function():
    root = parse_html(PRED_DOC)
    assert [n.string_value() for n in xpath_all(root, "//li[position()=2]")] == ["B"]


# ---------------------------------------------------------------------------
# comment() / processing-instruction() node tests (vendor doc.go:17 — all
# node types except namespace)
# ---------------------------------------------------------------------------

NODETYPE_DOC = """
<html><head><!--head note--><title>T</title></head>
<body><?render mode=fast?><div id="a"><!--inner--><p>hi</p></div>
<!--tail--><p>bye</p></body></html>
"""


def test_comment_node_test():
    root = parse_html(NODETYPE_DOC)
    got = [n.string_value() for n in xpath_all(root, "//comment()")]
    assert got == ["head note", "inner", "tail"]
    assert html_xpath_first(NODETYPE_DOC, "//div/comment()") == "inner"
    assert html_xpath_first(NODETYPE_DOC, "/html/head/comment()") == "head note"


def test_processing_instruction_node_test():
    assert html_xpath_first(NODETYPE_DOC, "//processing-instruction()") == "mode=fast"
    assert html_xpath_first(NODETYPE_DOC, "//processing-instruction('render')") == "mode=fast"
    assert html_xpath_first(NODETYPE_DOC, "//processing-instruction('other')") is None


def test_comment_in_predicate_and_axes():
    # existence predicate + explicit axis over comment nodes
    assert html_xpath_first(NODETYPE_DOC, "//div[comment()]/@id") == "a"
    # first p in doc order with a preceding comment sibling is the inner one
    assert html_xpath_first(NODETYPE_DOC, "//p[preceding-sibling::comment()]") == "hi"
    root = parse_html(NODETYPE_DOC)
    # node() counts comments and PIs alongside elements/text
    kinds = {n.kind for n in xpath_all(root, "//div/node()")}
    assert kinds == {1, 4}  # ELEMENT, COMMENT


def test_comments_excluded_from_string_value_and_text():
    # element string-value concatenates TEXT descendants only (XPath §5.2)
    assert html_xpath_first(NODETYPE_DOC, "//div") == "hi"
    from crawler_spark.rules.htmlpath import html_visible_text
    assert "inner" not in html_visible_text(NODETYPE_DOC)


def test_processing_instruction_whitespace_target_split():
    # any XML whitespace separates target from content, not just a space
    assert html_xpath_first("<body><?render\tmode=fast?></body>",
                            "//processing-instruction('render')") == "mode=fast"
    assert html_xpath_first("<body><?render\nmode=fast?></body>",
                            "//processing-instruction()") == "mode=fast"


# ---------------------------------------------------------------------------
# compiled paths: one compile per path string, not per document or node
# ---------------------------------------------------------------------------


def test_path_compiled_once_across_documents():
    path = "//ul/li[@class='compiled-once' and not(@hidden)]"
    docs = [f"<ul><li class='compiled-once'>{i}</li><li>x</li></ul>" for i in range(25)]
    before = compile_xpath.cache_info()
    got = [html_xpath_first(d, path) for d in docs]
    after = compile_xpath.cache_info()
    assert got == [str(i) for i in range(25)]
    assert after.misses - before.misses == 1
    assert after.hits - before.hits == len(docs) - 1


def test_malformed_operand_is_an_empty_operand():
    # an unknown axis inside a predicate is an empty operand: no match, no error
    assert xpath_all(parse_html(DOC), "//li[bogus::x]") == []
    assert html_xpath_first(DOC, "//li[bogus::x]") is None
    assert html_xpath_first(DOC, "//li[not(bogus::x)]") == "one"


def test_malformed_path_fails_at_top_level(spark):
    with pytest.raises(XPathError):
        xpath_all(parse_html(DOC), "//bogus::div")
    # compiled whole: a later bad step fails even when nothing reaches it
    with pytest.raises(XPathError):
        xpath_all(parse_html(DOC), "//nosuch/bogus::div")
    assert html_xpath_first(DOC, "//bogus::div") is None
    df = spark.createDataFrame([(DOC,)], ["html"])
    struct = xpath_struct_expr(F.col("html"), {"b": XPathRule("//bogus::div")})
    assert df.select(struct.alias("s")).first()["s"]["b"] == ""
