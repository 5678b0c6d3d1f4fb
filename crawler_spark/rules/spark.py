"""Declarative rule specs → Spark Column expressions (+ oracle methods).

Each rule class mirrors one reference rule (see crawler_spark.rules.core for
file:line citations) and exposes BOTH:

* the oracle path: ``get_first(content)`` / ``get(content, distinct)`` —
  plain Python, used by the pure-Python reference crawler in tests;
* the Spark path: ``first_expr(col)`` / ``array_expr(col, distinct)`` —
  Column expressions. Built-in (JVM / whole-stage-codegen) expressions are
  used whenever the reference semantics are exactly reproducible
  (const/noop/regex and cut-GetFirst); the cut-Get recursion quirk, the
  XPath engine and Python-only transforms run as Arrow-vectorized pandas
  UDFs (never per-row Python UDFs — north_star). ``udf_first`` says which
  ``first_expr`` needs Python; :func:`xpath_struct_expr` evaluates all such
  rules over one input column in ONE pandas UDF (one Arrow round trip, one
  HTML parse shared by its XPath rules), which is how the collector runs
  them.

Transforms: the reference's ``transStringFunc`` is an arbitrary
``str -> str``. A :class:`Trans` carries the mandatory Python form (oracle +
pandas-UDF path) and an optional Column form (``Column -> Column``); when a
rule maps to built-ins AND its transform has a Column form, the whole field
stays JVM-side.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field as dc_field

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from crawler_spark.rules import core


@dataclass(frozen=True)
class Trans:
    """Post-extraction scalar transform (ruler/ruler.go:20-40)."""

    py: Callable[[str], str]
    col: Callable[[Column], Column] | None = None


def _py_trans(trans: Trans | None) -> Callable[[str], str] | None:
    return trans.py if trans is not None else None


def _apply_col_trans(trans: Trans | None, c: Column) -> Column:
    if trans is None:
        return c
    if trans.col is None:
        raise ValueError("transform has no Column form; use the pandas-UDF path")
    return trans.col(c)


def _has_col_trans(trans: Trans | None) -> bool:
    return trans is None or trans.col is not None


def as_text(c: Column) -> Column:
    """binary html → string (UTF-8); no-op on string columns."""
    return c.cast("string")


def _scalar_udf(fn: Callable[[str], str]) -> Callable[[Column], Column]:
    @pandas_udf(StringType())
    def udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: fn(x) if x is not None else fn(""))

    return lambda c: udf(as_text(c))


def _array_udf(fn: Callable[[str], list[str]]) -> Callable[[Column], Column]:
    @pandas_udf(ArrayType(StringType()))
    def udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: fn(x) if x is not None else fn(""))

    return lambda c: udf(as_text(c))


class Rule:
    """Base: subclasses implement oracle + Spark forms."""

    trans: Trans | None = None

    # oracle ----------------------------------------------------------------
    def get_first(self, content: str) -> str:
        raise NotImplementedError

    def get(self, content: str, distinct: bool = False) -> list[str]:
        raise NotImplementedError

    # spark -----------------------------------------------------------------
    @property
    def udf_first(self) -> bool:
        """True when ``first_expr`` runs in Python (a pandas UDF), so the
        rule can instead ride one :func:`xpath_struct_expr` per input."""
        return True

    def first_expr(self, c: Column) -> Column:
        return _scalar_udf(self.get_first)(c)

    def array_expr(self, c: Column, distinct: bool = False) -> Column:
        return _array_udf(lambda s: self.get(s, distinct))(c)


@dataclass
class ConstRule(Rule):
    """ruler/const_string.go — constant output; transform folded at plan time."""

    value: str
    trans: Trans | None = None

    def get_first(self, content: str) -> str:
        return core.const_get_first(self.value, _py_trans(self.trans))

    def get(self, content: str, distinct: bool = False) -> list[str]:
        return core.const_get(self.value, distinct, _py_trans(self.trans))

    udf_first = False

    def first_expr(self, c: Column) -> Column:
        return F.lit(self.get_first(""))

    def array_expr(self, c: Column, distinct: bool = False) -> Column:
        return F.array(*[F.lit(v) for v in self.get("", distinct)])


@dataclass
class NoopRule(Rule):
    """ruler/ruler.go:8-18 — identity / pure transform."""

    trans: Trans | None = None

    def get_first(self, content: str) -> str:
        return core.noop_get_first(content, _py_trans(self.trans))

    def get(self, content: str, distinct: bool = False) -> list[str]:
        return core.noop_get(content, distinct, _py_trans(self.trans))

    @property
    def udf_first(self) -> bool:
        return not _has_col_trans(self.trans)

    def first_expr(self, c: Column) -> Column:
        if self.udf_first:
            return _scalar_udf(self.get_first)(c)
        return _apply_col_trans(self.trans, as_text(c))

    def array_expr(self, c: Column, distinct: bool = False) -> Column:
        return F.array(self.first_expr(c))


@dataclass
class CutRule(Rule):
    """ruler/cut_string.go — between-delimiters extraction with quirks.

    ``first_expr`` reproduces GetFirst (incl. the position-0 ``end`` search
    quirk) with pure built-ins: locate/substring/length — fully JVM-side.
    ``array_expr`` needs the per-level recursion + per-level dedup quirk →
    Arrow pandas UDF over the shared kernel.
    """

    start: str
    end: str
    trans: Trans | None = None

    def get_first(self, content: str) -> str:
        return core.cut_get_first(content, self.start, self.end, _py_trans(self.trans))

    def get(self, content: str, distinct: bool = False) -> list[str]:
        return core.cut_get(content, self.start, self.end, distinct, _py_trans(self.trans))

    @property
    def udf_first(self) -> bool:
        return not _has_col_trans(self.trans)

    def first_expr(self, c: Column) -> Column:
        if self.udf_first:
            return _scalar_udf(self.get_first)(c)
        c = as_text(c)
        s = F.locate(self.start, c)  # 1-based, 0 when absent
        e = F.locate(self.end, c)  # searched from position 0: the quirk
        si = s + len(self.start)  # 1-based position of first char after start
        # Go guard (cut_string.go:69): e0 > s0 and e0 < n with 0-based
        # s0 = si-1, e0 = e-1, n = length(c).
        cond = (s > 0) & (e > 0) & ((e - 1) > (si - 1)) & ((e - 1) < F.length(c))
        sub = F.substring(c, si, e - si)
        return F.when(cond, _apply_col_trans(self.trans, sub)).otherwise(F.lit(""))

    def array_expr(self, c: Column, distinct: bool = False) -> Column:
        return _array_udf(lambda s: self.get(s, distinct))(c)


@dataclass
class RegexRule(Rule):
    """ruler/regex_string.go — RE2 in the reference, Java regex in Spark,
    Python ``re`` in the oracle. ``java_safe=True`` (default) asserts the
    pattern means the same thing in Java and Python regex dialects (true for
    the RE2-compatible patterns the reference uses); set False to force the
    pandas-UDF path for patterns with dialect differences.
    """

    pattern: str
    trans: Trans | None = None
    java_safe: bool = True

    def get_first(self, content: str) -> str:
        return core.regex_get_first(content, self.pattern, _py_trans(self.trans))

    def get(self, content: str, distinct: bool = False) -> list[str]:
        return core.regex_get(content, self.pattern, distinct, _py_trans(self.trans))

    @property
    def udf_first(self) -> bool:
        return not (self.java_safe and _has_col_trans(self.trans))

    def first_expr(self, c: Column) -> Column:
        if self.udf_first:
            return _scalar_udf(self.get_first)(c)
        # "" on no match == Go FindString; transform applied even to ""
        return _apply_col_trans(self.trans, F.regexp_extract(as_text(c), self.pattern, 0))

    def array_expr(self, c: Column, distinct: bool = False) -> Column:
        if self.udf_first:
            return _array_udf(lambda s: self.get(s, distinct))(c)
        arr = F.regexp_extract_all(as_text(c), F.lit(self.pattern), 0)
        if distinct:
            # array_distinct preserves first-occurrence order == Go dedup of
            # RAW matches (regex_string.go:26-36); transform AFTER dedup.
            arr = F.array_distinct(arr)
        if self.trans is not None:
            arr = F.transform(arr, self.trans.col)
        return arr


@dataclass
class XPathRule(Rule):
    """ruler/xpath_node.go — XPath string-value of first match over HTML.

    Runs on the stdlib engine (crawler_spark.rules.htmlpath) inside an Arrow
    pandas UDF. Spark's built-in ``xpath_string`` requires well-formed XML
    and lacks the x/net/html normalization, so it is not used.
    """

    path: str
    trans: Trans | None = None

    def get_first(self, content: str) -> str:
        return core.xpath_get_first(content, self.path, _py_trans(self.trans))

    def get(self, content: str, distinct: bool = False) -> list[str]:
        return core.xpath_get(content, self.path, distinct, _py_trans(self.trans))


def xpath_struct_expr(content_col: Column, rules: dict[str, Rule]) -> Column:
    """Evaluate MANY rules over one input column in ONE Python pass.

    Returns a struct with one string field per name, each equal to
    ``rule.get_first(content)``. The reference parses (twice!) per document
    PER FIELD (ruler/xpath_node.go:35-48); here every XPath rule shares one
    parse per document, and every other rule calls its ``get_first`` on the
    same row — one pandas UDF, one Arrow round trip, output-identical.
    """
    from crawler_spark.rules.htmlpath import parse_html, xpath_all

    names = list(rules)
    items = [rules[n] for n in names]
    needs_parse = any(isinstance(r, XPathRule) for r in items)
    out_type = StructType([StructField(n, StringType()) for n in names])

    def xpath_first(root, r: XPathRule) -> str:
        if root is None:
            return ""
        try:
            nodes = xpath_all(root, r.path)
        except Exception:
            return ""
        if not nodes:
            return ""
        return core.apply_trans(_py_trans(r.trans), nodes[0].string_value())

    @pandas_udf(out_type)
    def udf(s: pd.Series) -> pd.DataFrame:
        rows = []
        for content in s:
            content = content if content is not None else ""
            root = parse_html(content) if needs_parse else None
            rows.append([
                xpath_first(root, r) if isinstance(r, XPathRule) else r.get_first(content)
                for r in items
            ])
        return pd.DataFrame(rows, columns=names)

    return udf(as_text(content_col))
