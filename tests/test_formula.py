"""Compiled formula-subset tests (SURVEY §7.4 hard part 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.errors import FormulaSyntaxError, UnknownSelfRefError
from spreadsheet_etl_engine_spark.plans.formula import compile_formula
from spreadsheet_etl_engine_spark.plans.parser import parse_mapping
from spreadsheet_etl_engine_spark.plans.runner import run_mapping


def _eval_one(spark, body, row=None, schema=None):
    df = spark.createDataFrame([row or (1.0,)], schema or ["x"])
    col = compile_formula(body, "t", lambda n: F.col(n), lambda n: F.col(n))
    return df.select(col.alias("r")).collect()[0]["r"]


def test_arithmetic_precedence(spark):
    assert _eval_one(spark, "=1+2*3") == 7.0
    assert _eval_one(spark, "=(1+2)*3") == 9.0
    assert _eval_one(spark, "=2^3^2") == 512.0  # right-assoc
    assert _eval_one(spark, "=-2^2") == 4.0  # unary binds outside ^ here: (-2)^2
    assert _eval_one(spark, "=10/4") == 2.5


def test_percent_literal(spark):
    assert _eval_one(spark, "=50%") == 0.5
    assert _eval_one(spark, "=200*10%") == pytest.approx(20.0)


def test_strings_and_concat(spark):
    assert _eval_one(spark, '="a" & "b" & 1') == "ab1.0"
    assert _eval_one(spark, '=CONCATENATE("x", "y")') == "xy"
    assert _eval_one(spark, '="say ""hi"""') == 'say "hi"'


def test_comparisons_and_if(spark):
    assert _eval_one(spark, '=IF(1<2, "yes", "no")') == "yes"
    assert _eval_one(spark, '=IF(1<>1, "yes", "no")') == "no"
    assert _eval_one(spark, "=IF(AND(TRUE, 2>=2), 1, 0)") == 1.0
    assert _eval_one(spark, "=IF(OR(FALSE, NOT(FALSE)), 1, 0)") == 1.0


def test_functions(spark):
    assert _eval_one(spark, "=ABS(-3)") == 3.0
    assert _eval_one(spark, "=ROUND(2.567, 2)") == 2.57
    assert _eval_one(spark, "=ROUND(2.4)") == 2.0
    assert _eval_one(spark, "=MIN(3,1,2)") == 1.0
    assert _eval_one(spark, "=MAX(3,1,2)") == 3.0
    assert _eval_one(spark, "=SUM(1,2,3)") == 6.0
    assert _eval_one(spark, '=UPPER("ab")') == "AB"
    assert _eval_one(spark, '=LOWER("AB")') == "ab"
    assert _eval_one(spark, '=LEN("abc")') == 3
    assert _eval_one(spark, '=TRIM("  a  ")') == "a"
    assert _eval_one(spark, '=LEFT("abcdef", 2)') == "ab"
    assert _eval_one(spark, '=RIGHT("abcdef", 2)') == "ef"
    assert _eval_one(spark, '=MID("abcdef", 2, 3)') == "bcd"


def test_src_refs(spark):
    assert _eval_one(spark, "=src[x]*2", row=(21.0,)) == 42.0


def test_a1_reference_rejected_without_resolver(spark):
    with pytest.raises(FormulaSyntaxError, match="A1-style"):
        compile_formula("=A2+B2", "t", lambda n: F.col(n), lambda n: F.col(n))


def test_a1_compiled_template(spark):
    """A1 refs compile as row-local templates: letters become 1-based
    ordinals handed to the caller's resolver (this test binds them to a
    plain column list; MappingCompiler binds output declaration
    positions), the row number is the current-row placeholder."""
    df = spark.createDataFrame([(3.0, 4.0)], ["x", "y"])
    headers = list(df.columns)
    expr = compile_formula("=A2+B2*2", "t", lambda n: F.col(n), lambda n: F.col(n),
                           lambda i: F.col(headers[i - 1]))
    assert df.select(expr.alias("v")).collect()[0]["v"] == 11.0
    # Header row (row 1) and mixed row numbers are rejected.
    with pytest.raises(FormulaSyntaxError, match="header"):
        compile_formula("=A1+B1", "t", lambda n: F.col(n), lambda n: F.col(n),
                        lambda i: F.col(headers[i - 1]))
    with pytest.raises(FormulaSyntaxError, match="mixes row"):
        compile_formula("=A2+B3", "t", lambda n: F.col(n), lambda n: F.col(n),
                        lambda i: F.col(headers[i - 1]))


def test_a1_col_ordinal():
    from spreadsheet_etl_engine_spark.sources.xlsx_native import letters_to_ordinal

    assert letters_to_ordinal("A") == 1
    assert letters_to_ordinal("Z") == 26
    assert letters_to_ordinal("AA") == 27
    assert letters_to_ordinal("AAA") == 703
    assert letters_to_ordinal("aa") == 27


def test_syntax_errors(spark):
    for bad in ["=1+", "=FOO(1)", "=(1", "=1 2", "=@"]:
        with pytest.raises(FormulaSyntaxError):
            compile_formula(bad, "t", lambda n: F.col(n), lambda n: F.col(n))


def test_self_chaining_in_mapping(spark):
    df = spark.createDataFrame([(10.0,), (20.0,)], ["Amount"])
    spec = parse_mapping(
        [
            ("Calc", "formula:=src[Amount]*2"),
            ("Chained", "formula:=self[Calc]+1"),
        ],
        ["Amount"],
    )
    rows = run_mapping(df, spec).orderBy("Calc").collect()
    assert [(r["Calc"], r["Chained"]) for r in rows] == [(20.0, 21.0), (40.0, 41.0)]


def test_unknown_self_ref(spark):
    df = spark.createDataFrame([(1.0,)], ["Amount"])
    spec = parse_mapping([("A", "formula:=self[Nope]+1")], ["Amount"])
    with pytest.raises(UnknownSelfRefError):
        run_mapping(df, spec)


def test_math_functions(spark):
    assert _eval_one(spark, "=MOD(7, 3)") == 1.0
    assert _eval_one(spark, "=INT(2.9)") == 2
    assert _eval_one(spark, "=CEILING(2.1)") == 3
    assert _eval_one(spark, "=FLOOR(2.9)") == 2
    assert _eval_one(spark, "=SQRT(16)") == 4.0
    assert _eval_one(spark, "=POWER(2, 10)") == 1024.0
    assert _eval_one(spark, "=ROUND(EXP(1), 4)") == 2.7183
    assert _eval_one(spark, "=LN(EXP(1))") == 1.0
    assert _eval_one(spark, "=LOG10(1000)") == 3.0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def arith_expr(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        return str(draw(st.integers(min_value=0, max_value=99)))
    left = draw(arith_expr(depth=depth + 1))
    right = draw(arith_expr(depth=depth + 1))
    op = draw(st.sampled_from(["+", "-", "*"]))
    return f"({left}{op}{right})"


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(expr=arith_expr())
def test_formula_arithmetic_matches_python(spark, expr):
    got = _eval_one(spark, f"={expr}")
    assert got == float(eval(expr))  # noqa: S307 — generated arithmetic only


@settings(max_examples=40, deadline=None)
@given(st.text(max_size=30))
def test_formula_fuzz_only_engine_errors(text):
    """Arbitrary formula text either compiles or raises FormulaSyntaxError."""
    from pyspark.sql import functions as F

    from spreadsheet_etl_engine_spark.errors import FormulaSyntaxError

    try:
        compile_formula(text, "t", lambda n: F.col(n), lambda n: F.col(n))
    except FormulaSyntaxError:
        pass
