"""Field matchers F1–F6 (SURVEY §2.9) as SQL expressions.

Reference semantics: src/openllm_ocr_annotator/utils/field_matcher.py —
re-expressed, not ported: each matcher is a boolean SQL expression template
so the comparison runs JVM-side inside whole-stage codegen (and, for the
numeric/currency/exact/ci matchers, the *same* template string evaluates in
DuckDB for the oracle — single source of truth, no drift).

Templates avoid backslash escapes and engine-specific functions on purpose:
``regexp_extract(s, p, group)``, ``try_cast``, ``replace``, ``lower``,
``trim``, ``abs`` behave identically in Spark SQL and DuckDB. The date
matcher needs engine-specific datetime parsers (Spark ``try_to_date`` with
JDK patterns vs DuckDB ``try_strptime`` with C patterns) and so has two
implementations pinned to each other by fixtures.

Replicated reference quirks:
- DateMatcher (field_matcher.py:25-42): equal iff both values parse with the
  SAME format (first such format wins — even to return unequal); different
  formats for the same date → NOT a match.
- NumericMatcher (field_matcher.py:45-58): strip ',', float, |diff| <= tol;
  any parse failure → exact string fallback.
- CurrencyMatcher (field_matcher.py:68-147): 'N/A' and unparseable → amount
  0.0 with no currency (so 'N/A' matches '0 USD'); both-separator and
  single-comma European/US disambiguation; currency codes must match only
  when both present; |diff| <= 0.01.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DATE_FORMATS_SPARK = ["yyyy-MM-dd", "yyyy/MM/dd", "dd-MM-yyyy", "dd/MM/yyyy"]
DATE_FORMATS_DUCKDB = ["%Y-%m-%d", "%Y/%m/%d", "%d-%m-%Y", "%d/%m/%Y"]

# --- shared SQL templates (placeholders __GT__/__PRED__/__TOL__) -----------

EXACT_SQL = "(__GT__ = __PRED__)"

CI_SQL = "(lower(__GT__) = lower(__PRED__))"

NUMERIC_SQL = (
    "coalesce("
    "abs(try_cast(replace(__GT__, ',', '') as double)"
    " - try_cast(replace(__PRED__, ',', '') as double)) <= __TOL__, "
    "__GT__ = __PRED__)"
)

# amount-string normalizer: reference's separator disambiguation
# (field_matcher.py:107-128). __A__ = raw [0-9,.]+ token.
_AMOUNT_NORM_SQL = (
    "case "
    # 1,234.56 — comma before dot: commas are thousands
    "when regexp_extract(__A__, '^[^.]*,[^.]*[.]', 0) <> '' "
    "then replace(__A__, ',', '') "
    # 1.234,56 — dot before comma: dots thousands, comma decimal
    "when regexp_extract(__A__, '^[^,]*[.][^,]*,', 0) <> '' "
    "then replace(replace(__A__, '.', ''), ',', '.') "
    # exactly one comma with two trailing chars: decimal comma (1234,56)
    "when regexp_extract(__A__, '^[^,]*,[^,][^,]$', 0) <> '' "
    "then replace(__A__, ',', '.') "
    # otherwise commas are thousands (1,234)
    "else replace(__A__, ',', '') end"
)

_CURRENCY_RE = "([0-9,.]+) *([A-Z][A-Z][A-Z])?|([A-Z][A-Z][A-Z])? *([0-9,.]+)"


def _amount_sql(v: str) -> str:
    raw = (
        f"case when {v} is null or {v} = 'N/A' then '' "
        f"else regexp_extract(trim({v}), '{_CURRENCY_RE}', 1) || "
        f"regexp_extract(trim({v}), '{_CURRENCY_RE}', 4) end"
    )
    # raw '' (no match / N/A) → 0.0; unparseable normalized → 0.0
    norm = _AMOUNT_NORM_SQL.replace("__A__", f"({raw})")
    return f"coalesce(try_cast(({norm}) as double), 0.0)"


def _currency_code_sql(v: str) -> str:
    return (
        f"case when {v} is null or {v} = 'N/A' then '' "
        f"else trim(regexp_extract(trim({v}), '{_CURRENCY_RE}', 2) || "
        f"regexp_extract(trim({v}), '{_CURRENCY_RE}', 3)) end"
    )


def currency_sql() -> str:
    g_amt, p_amt = _amount_sql("__GT__"), _amount_sql("__PRED__")
    g_cur, p_cur = _currency_code_sql("__GT__"), _currency_code_sql("__PRED__")
    return (
        f"(case when ({g_cur}) <> '' and ({p_cur}) <> '' and ({g_cur}) <> ({p_cur}) "
        f"then false else abs(({g_amt}) - ({p_amt})) <= __TOL__ end)"
    )


CURRENCY_SQL = currency_sql()


def render(template: str, gt: str, pred: str, tol: float = 0.0) -> str:
    """Instantiate a shared template for either engine."""
    return (
        template.replace("__GT__", gt).replace("__PRED__", pred).replace("__TOL__", repr(tol))
    )


# --- Spark Column constructors ---------------------------------------------


def exact_match(gt: Column, pred: Column) -> Column:
    return gt == pred


def ci_match(gt: Column, pred: Column) -> Column:
    return F.lower(gt) == F.lower(pred)


def numeric_match(gt: Column, pred: Column, tolerance: float = 0.0) -> Column:
    # try_cast (not Column.cast): NULL on parse failure regardless of ANSI
    # mode; NULL propagates so coalesce falls back to exact string compare.
    g_num = F.expr(f"try_cast(replace({_c(gt)}, ',', '') as double)")
    p_num = F.expr(f"try_cast(replace({_c(pred)}, ',', '') as double)")
    return F.coalesce(F.abs(g_num - p_num) <= F.lit(tolerance), gt == pred)


def _c(col: Column) -> str:
    """Column → SQL fragment (requires a plain column reference).

    ``pyspark.sql.classic.column`` only exists in PySpark 4.x (3.5 keeps
    the JVM-backed Column at ``pyspark.sql.column``) — the declared
    dependency floor is 3.5, so fall back rather than ModuleNotFoundError
    on the first matcher call of a 3.5 install."""
    try:
        from pyspark.sql.classic.column import Column as ClassicColumn
    except ModuleNotFoundError:  # pyspark 3.5.x
        from pyspark.sql.column import Column as ClassicColumn

    if isinstance(col, ClassicColumn):
        return str(col._jc.toString())
    raise TypeError("matcher expressions need plain column references")


def date_match(gt: Column, pred: Column) -> Column:
    """F3: first format where BOTH parse decides the outcome."""
    result: Column = F.lit(False)
    for fmt in reversed(DATE_FORMATS_SPARK):
        g = F.expr(f"try_to_date({_c(gt)}, '{fmt}')")
        p = F.expr(f"try_to_date({_c(pred)}, '{fmt}')")
        result = F.when(g.isNotNull() & p.isNotNull(), g == p).otherwise(result)
    return result


def currency_match(gt: Column, pred: Column) -> Column:
    return F.expr(render(CURRENCY_SQL, _c(gt), _c(pred), 0.01))


def date_match_duckdb_sql(gt: str, pred: str) -> str:
    """DuckDB twin of ``date_match`` (strptime patterns)."""
    expr = "false"
    for fmt in reversed(DATE_FORMATS_DUCKDB):
        g = f"try_strptime({gt}, '{fmt}')"
        p = f"try_strptime({pred}, '{fmt}')"
        expr = (
            f"case when {g} is not null and {p} is not null "
            f"then {g} = {p} else ({expr}) end"
        )
    return f"({expr})"


# --- F6: matcher registry / dispatch ----------------------------------------

DEFAULT_REGISTRY = {
    "contract_date": "date",
    "transaction_amount": "currency",
}


def dispatch_match(
    field_name: Column,
    gt: Column,
    pred: Column,
    registry: dict[str, str] | None = None,
    numeric_tolerance: float = 0.0,
) -> Column:
    """F6 (reference: evaluators/base.py:31-40, apps/evaluate.py:63-66):
    per-field matcher dispatch, default exact."""
    registry = DEFAULT_REGISTRY if registry is None else registry
    builders = {
        "exact": lambda: exact_match(gt, pred),
        "ci": lambda: ci_match(gt, pred),
        "date": lambda: date_match(gt, pred),
        "numeric": lambda: numeric_match(gt, pred, numeric_tolerance),
        "currency": lambda: currency_match(gt, pred),
    }
    result = builders["exact"]()
    for fname, matcher in sorted(registry.items(), reverse=True):
        result = F.when(field_name == fname, builders[matcher]()).otherwise(result)
    return result
