"""Field extraction — the DataCollector as a declarative projection.

Reference: DataCollector pulls URLs, fetches each (silent drop on error),
and evaluates per-field rules over the URL string or the page body
(/root/reference/collector.go:63-101). Here:

* fetch = inner equi-join frontier ⋈ corpus on canonical url (misses =
  fetch failures, dropped for free — collector.go:88-90 semantics);
* each field = one column expression over url or html: rules with a
  built-in form stay JVM-side (rule.first_expr), and every rule that needs
  Python rides ONE struct UDF per input column (xpath_struct_expr: one
  Arrow round trip per row, one parse shared by all XPath rules);
* ``GetFromNextPage`` (util.go:54-61) = derive the follow-up url column →
  LEFT join the corpus again → apply the follow-up rule to the joined html
  ("" when the follow-up page is missing, matching GetFromNextPage's
  error → "" path). Follow-up fields that share (input, base rule,
  url_format) fetch the same page, so they share one base value, one
  canonicalization, one join and one struct UDF over that page.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from crawler_spark.frontier.canon import canon_expr
from crawler_spark.rules.spark import Rule, as_text, xpath_struct_expr


@dataclass
class FollowUp:
    """Nested crawl inside a transform (example/jd/main.go:110-143):
    the base rule's result is formatted into a URL, that page is fetched,
    and ``rule`` extracts the field from it."""

    url_format: str  # str.format template, e.g. "https://z.example/f?id={}"
    rule: Rule

    def __post_init__(self) -> None:
        # url_expr builds prefix + value + suffix, which is str.format only
        # for exactly one bare "{}" and no other brace
        pre, sep, post = self.url_format.partition("{}")
        if not sep or "{" in pre + post or "}" in pre + post:
            raise ValueError(
                f"url_format must hold exactly one '{{}}' and no other brace: {self.url_format!r}"
            )

    def url_expr(self, base_value: Column) -> Column:
        pre, _, post = self.url_format.partition("{}")
        return F.concat(F.lit(pre), base_value, F.lit(post))


@dataclass
class Field:
    """FieldItem (collector.go:16-21): name + input choice + rule."""

    name: str
    rule: Rule
    from_url: bool = False  # True → rule input is the URL string, not html
    follow_up: FollowUp | None = None


def _follow_up_groups(fields: list[Field]) -> list[list[Field]]:
    """Follow-up fields grouped by the page they fetch: same input, same
    base rule, same url_format (declaration order kept)."""
    groups: list[tuple[tuple, list[Field]]] = []
    for f in fields:
        if f.follow_up is None:
            continue
        key = (f.from_url, f.rule, f.follow_up.url_format)
        for k, members in groups:
            if k == key:
                members.append(f)
                break
        else:
            groups.append((key, [f]))
    return [members for _, members in groups]


def extract_fields(
    fetched: DataFrame,
    fields: list[Field],
    corpus: DataFrame | None = None,
    url_col: str = "url_canon",
    html_col: str = "html",
) -> DataFrame:
    """Project rule fields over fetched pages.

    ``fetched`` must carry (url_col, html_col). ``corpus`` (url_canon, html)
    is required when any field has a follow_up. Output: url_col + one string
    column per field, in declaration order.
    """
    groups = _follow_up_groups(fields)
    if groups and corpus is None:
        raise ValueError(f"field {groups[0][0].name!r} has follow_up but no corpus given")
    inputs = {False: as_text(F.col(html_col)), True: F.col(url_col)}
    py_struct = {False: "_py_html", True: "_py_url"}

    # Stage 1: base rule values — one per plain field, one per follow-up
    # group. Built-ins are columns; Python rules share a struct per input.
    bases = {f"_v_{f.name}": f for f in fields if f.follow_up is None}
    bases.update({f"_fu_base_{g}": members[0] for g, members in enumerate(groups)})
    cols: list[Column] = [F.col(url_col)]
    py_rules: dict[bool, dict[str, Rule]] = {False: {}, True: {}}
    value: dict[str, Column] = {}
    for alias, f in bases.items():
        if f.rule.udf_first:
            py_rules[f.from_url][alias] = f.rule
            value[alias] = F.col(py_struct[f.from_url]).getField(alias)
        else:
            cols.append(f.rule.first_expr(inputs[f.from_url]).alias(alias))
            value[alias] = F.col(alias)
    cols += [
        xpath_struct_expr(inputs[from_url], rules).alias(py_struct[from_url])
        for from_url, rules in py_rules.items()
        if rules
    ]
    staged = fetched.select(*cols)

    # Stage 2: one follow-up fetch (left join) per group
    fu_urls = [
        canon_expr(members[0].follow_up.url_expr(value[f"_fu_base_{g}"])).alias(f"_fu_url_{g}")
        for g, members in enumerate(groups)
    ]
    if fu_urls:
        staged = staged.select("*", *fu_urls)
    for g in range(len(groups)):
        fu_pages = corpus.select(
            F.col(url_col).alias(f"_fu_url_{g}"),
            F.col(html_col).alias(f"_fu_html_{g}"),
        )
        staged = staged.join(fu_pages, f"_fu_url_{g}", "left")

    # Stage 3: follow-up rules over the joined page, Python ones in one
    # struct per group
    fu_structs: list[Column] = []
    for g, members in enumerate(groups):
        html = F.col(f"_fu_html_{g}")
        rules = {f.name: f.follow_up.rule for f in members if f.follow_up.rule.udf_first}
        if rules:
            fu_structs.append(xpath_struct_expr(html, rules).alias(f"_fu_py_{g}"))
        for f in members:
            rule = f.follow_up.rule
            if rule.udf_first:
                val = F.col(f"_fu_py_{g}").getField(f.name)
            else:
                val = rule.first_expr(as_text(html))
            # fetch failure → "" WITHOUT applying the rule (util.go:56-59)
            value[f"_v_{f.name}"] = F.when(html.isNotNull(), val).otherwise(F.lit(""))
    if fu_structs:
        staged = staged.select("*", *fu_structs)

    # Stage 4: final projection in declaration order
    return staged.select(F.col(url_col), *[value[f"_v_{f.name}"].alias(f.name) for f in fields])
