"""Compiled spreadsheet-formula subset.

The reference never *evaluates* ``formula:`` rules — it splices row values
into the formula text and writes the text to a cell, deferring evaluation to
Google Sheets (``main.gs:86-98,107-108``; ``docs/expression-language.md:282``
"Formula outputs preserve spreadsheet syntax").  A Spark engine needs real
values, so we support two modes:

* **compiled** (this module): a documented subset of spreadsheet formula
  syntax is parsed and compiled to a Catalyst ``Column`` expression, so the
  result is a typed value computed JVM-side.  This is the mode the
  correctness gate uses.
* **pass-through** (``sources.writers.write_xlsx``): the formula *text* is
  emitted into the output cell for spreadsheet sinks, preserving the
  reference's deferred-evaluation behavior, including ``self[...]``
  A1-address substitution.

Supported subset (all compiled to built-in ``pyspark.sql.functions`` — no
UDFs, stays inside whole-stage codegen):

==================  =====================================================
syntax              compiles to
==================  =====================================================
``123``, ``1.5``    ``F.lit(double)``
``10%``             ``F.lit(0.10)`` (percent literal, spreadsheet style)
``"text"``          ``F.lit(str)`` (``""`` escapes a quote)
``src[Col]``        the source column (numeric context casts to double)
``self[Out]``       the already-compiled expression of an earlier output
                    column (value semantics — lateral-alias equivalent)
``+ - * / ^``       arithmetic (double); ``^`` is ``pow``
``&``               string concatenation
``= <> < > <= >=``  comparison → boolean
``IF(c,a,b)``       ``F.when(c,a).otherwise(b)``
``AND/OR/NOT``      boolean connectives
``ABS ROUND``       math; ``ROUND(x, n)`` half-up like Sheets
``MIN MAX SUM``     row-wise over their arguments (``F.least/greatest``)
``UPPER LOWER``     string case
``LEN TRIM``        ``F.length`` / ``F.trim``
``LEFT RIGHT MID``  substring ops (1-based, like Sheets)
``CONCATENATE``     ``F.concat``
``COALESCE/IFERROR``first non-null
==================  =====================================================

A1-style positional references (``=A2+B2``, reference ``README.md:76``)
compile as row-local templates when the caller provides ``resolve_a1``:
the letter is a 1-based column ordinal (A → 1) handed to the resolver,
the row number is the current-row placeholder (must be >= 2 and
consistent within the formula).  What the ordinal addresses is the
caller's choice; ``MappingCompiler`` binds it to OUTPUT columns by
declaration position, matching the reference where the formula text
lands in the output sheet (``main.gs:107-108``).  Without ``resolve_a1``
they are rejected with a clear error pointing at pass-through mode.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.errors import FormulaSyntaxError
from spreadsheet_etl_engine_spark.sources.xlsx_native import letters_to_ordinal

# --- Tokenizer -----------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<ref>(src|self)\[[^\]]+\])
  | (?P<number>(\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?%?)
  | (?P<string>"(?:[^"]|"")*")
  | (?P<op><>|<=|>=|[=<>+\-*/^&(),])
  | (?P<name>[A-Za-z_][A-Za-z0-9_.]*)
    """,
    re.VERBOSE,
)


@dataclass(frozen=True)
class _Tok:
    kind: str
    text: str


def _tokenize(src: str, rule: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise FormulaSyntaxError(f"unexpected character {src[pos]!r} at {pos}", rule)
        pos = m.end()
        kind = m.lastgroup or ""
        if kind == "ws":
            continue
        toks.append(_Tok(kind, m.group(0)))
    return toks


# --- Parser (precedence climbing) ---------------------------------------

SrcResolver = Callable[[str], Column]
SelfResolver = Callable[[str], Column]


class _Parser:
    def __init__(self, toks: list[_Tok], rule: str,
                 resolve_src: SrcResolver, resolve_self: SelfResolver,
                 resolve_a1: Callable[[int], Column] | None = None) -> None:
        self.toks = toks
        self.i = 0
        self.rule = rule
        self.resolve_src = resolve_src
        self.resolve_self = resolve_self
        self.resolve_a1 = resolve_a1
        self._a1_row: int | None = None

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        tok = self.peek()
        if tok is None:
            raise FormulaSyntaxError("unexpected end of formula", self.rule)
        self.i += 1
        return tok

    def expect(self, text: str) -> None:
        tok = self.next()
        if tok.text != text:
            raise FormulaSyntaxError(f"expected {text!r}, found {tok.text!r}", self.rule)

    # expr := concat ( cmp-op concat )?
    def expr(self) -> Column:
        left = self.concat()
        tok = self.peek()
        if tok and tok.text in ("=", "<>", "<", ">", "<=", ">="):
            self.next()
            right = self.concat()
            return {
                "=": lambda a, b: a == b,
                "<>": lambda a, b: a != b,
                "<": lambda a, b: a < b,
                ">": lambda a, b: a > b,
                "<=": lambda a, b: a <= b,
                ">=": lambda a, b: a >= b,
            }[tok.text](left, right)
        return left

    def concat(self) -> Column:
        left = self.additive()
        while (tok := self.peek()) and tok.text == "&":
            self.next()
            right = self.additive()
            left = F.concat(left.cast("string"), right.cast("string"))
        return left

    def additive(self) -> Column:
        left = self.term()
        while (tok := self.peek()) and tok.text in ("+", "-"):
            self.next()
            right = self.term()
            left = (left + right) if tok.text == "+" else (left - right)
        return left

    def term(self) -> Column:
        left = self.factor()
        while (tok := self.peek()) and tok.text in ("*", "/"):
            self.next()
            right = self.factor()
            left = (left * right) if tok.text == "*" else (left / right)
        return left

    def factor(self) -> Column:
        # Spreadsheet precedence: unary minus binds tighter than ^
        # (=-2^2 is 4), and ^ is right-associative (=2^3^2 is 512).
        sign = 1
        while (tok := self.peek()) and tok.text in ("-", "+"):
            self.next()
            if tok.text == "-":
                sign = -sign
        base = self.primary()
        if sign < 0:
            base = -base
        if (nxt := self.peek()) and nxt.text == "^":
            self.next()
            exponent = self.factor()
            return F.pow(base, exponent)
        return base

    def primary(self) -> Column:
        tok = self.next()
        if tok.kind == "number":
            text = tok.text
            if text.endswith("%"):
                return F.lit(float(text[:-1]) / 100.0)
            return F.lit(float(text))
        if tok.kind == "string":
            return F.lit(tok.text[1:-1].replace('""', '"'))
        if tok.kind == "ref":
            inner = tok.text[tok.text.index("[") + 1 : -1]
            if tok.text.startswith("src["):
                return self.resolve_src(inner)
            return self.resolve_self(inner)
        if tok.text == "(":
            inner = self.expr()
            self.expect(")")
            return inner
        if tok.kind == "name":
            nxt = self.peek()
            if nxt and nxt.text == "(":
                return self.func_call(tok.text.upper())
            if m := re.fullmatch(r"([A-Z]{1,3})([0-9]+)", tok.text.upper()):
                if self.resolve_a1 is None:
                    raise FormulaSyntaxError(
                        f"A1-style reference {tok.text!r} is only supported in "
                        "xlsx pass-through mode; use src[Column] here",
                        self.rule,
                    )
                # Row-local template semantics: the letter indexes a SOURCE
                # column by ingest position; the row number is the
                # current-row placeholder (row 1 is the header, so it must
                # be >= 2 and identical for every A1 ref in the formula —
                # cross-row references are not row-locally expressible;
                # use window/lag operators for those).
                row = int(m.group(2))
                if row < 2:
                    raise FormulaSyntaxError(
                        f"A1 reference {tok.text!r} addresses the header "
                        "row; data rows start at 2", self.rule)
                if self._a1_row is not None and row != self._a1_row:
                    raise FormulaSyntaxError(
                        f"A1 reference {tok.text!r} mixes row {row} with "
                        f"row {self._a1_row}; compiled formulas are "
                        "row-local templates (one row number per formula)",
                        self.rule)
                self._a1_row = row
                return self.resolve_a1(letters_to_ordinal(m.group(1)))
            # Bare names (TRUE/FALSE) — anything else is an error.
            if tok.text.upper() == "TRUE":
                return F.lit(True)
            if tok.text.upper() == "FALSE":
                return F.lit(False)
            raise FormulaSyntaxError(f"unknown identifier {tok.text!r}", self.rule)
        raise FormulaSyntaxError(f"unexpected token {tok.text!r}", self.rule)

    def func_call(self, name: str) -> Column:
        self.expect("(")
        args: list[Column] = []
        literals: list[float | None] = []
        if (tok := self.peek()) and tok.text != ")":
            args.append(self._arg(literals))
            while (tok := self.peek()) and tok.text == ",":
                self.next()
                args.append(self._arg(literals))
        self.expect(")")
        return self.apply_func(name, args, literals)

    def _arg(self, literals: list[float | None]) -> Column:
        """Parse one argument, remembering its value when it is a bare
        numeric literal (ROUND/LEFT/... need a literal int scale)."""
        tok = self.peek()
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if tok and tok.kind == "number" and not tok.text.endswith("%") and (
            nxt is None or nxt.text in (",", ")")
        ):
            literals.append(float(tok.text))
        else:
            literals.append(None)
        return self.expr()

    def _literal_int(self, name: str, literals: list[float | None], idx: int) -> int:
        value = literals[idx] if idx < len(literals) else None
        if value is None:
            raise FormulaSyntaxError(
                f"{name} requires a literal number for argument {idx + 1}", self.rule
            )
        return int(value)

    def apply_func(self, name: str, args: list[Column], literals: list[float | None]) -> Column:
        def arity(n: int) -> None:
            if len(args) != n:
                raise FormulaSyntaxError(f"{name} expects {n} arguments, got {len(args)}", self.rule)

        if name == "IF":
            if len(args) == 2:
                # Typed-engine choice: IF(c, a) is NULL when c is false
                # (Sheets returns the boolean FALSE there — a type a
                # typed column can't mix with a's; documented divergence,
                # r10 review pass 6).
                return F.when(args[0], args[1])
            arity(3)
            return F.when(args[0], args[1]).otherwise(args[2])
        if name == "AND":
            out = args[0]
            for a in args[1:]:
                out = out & a
            return out
        if name == "OR":
            out = args[0]
            for a in args[1:]:
                out = out | a
            return out
        if name == "NOT":
            arity(1)
            return ~args[0]
        if name == "ABS":
            arity(1)
            return F.abs(args[0])
        if name == "ROUND":
            if len(args) == 1:
                return F.round(args[0], 0)
            arity(2)
            # Sheets rounds half away from zero; Spark F.round is Java
            # HALF_UP, which IS ties-away-from-zero for negatives too
            # (r10 review pass 6: exact match for the whole signed
            # domain, modulo binary-double representation of the input).
            return F.round(args[0], self._literal_int(name, literals, 1))
        if name in ("MIN", "LEAST"):
            return args[0] if len(args) == 1 else F.least(*args)
        if name in ("MAX", "GREATEST"):
            return args[0] if len(args) == 1 else F.greatest(*args)
        if name == "SUM":
            out = args[0]
            for a in args[1:]:
                out = out + a
            return out
        if name == "UPPER":
            arity(1)
            return F.upper(args[0])
        if name == "LOWER":
            arity(1)
            return F.lower(args[0])
        if name == "LEN":
            arity(1)
            return F.length(args[0].cast("string"))
        if name == "TRIM":
            arity(1)
            return F.trim(args[0].cast("string"))
        if name == "LEFT":
            arity(2)
            return F.substring(args[0].cast("string"), 1, self._literal_int(name, literals, 1))
        if name == "RIGHT":
            arity(2)
            n = self._literal_int(name, literals, 1)
            return F.substring(args[0].cast("string"), -n, n)
        if name == "MID":
            arity(3)
            return F.substring(
                args[0].cast("string"),
                self._literal_int(name, literals, 1),
                self._literal_int(name, literals, 2),
            )
        if name == "CONCATENATE":
            return F.concat(*[a.cast("string") for a in args])
        if name in ("COALESCE", "IFERROR"):
            return F.coalesce(*args)
        if name == "MOD":
            arity(2)
            # Sheets MOD takes the divisor's sign — pmod matches for the
            # positive-divisor domain.
            return F.pmod(args[0], args[1])
        if name == "INT":
            arity(1)
            return F.floor(args[0])
        if name == "CEILING":
            arity(1)
            return F.ceil(args[0])
        if name == "FLOOR":
            arity(1)
            return F.floor(args[0])
        if name == "SQRT":
            arity(1)
            return F.sqrt(args[0])
        if name == "EXP":
            arity(1)
            return F.exp(args[0])
        if name == "LN":
            arity(1)
            return F.log(args[0])
        if name == "LOG10":
            arity(1)
            return F.log10(args[0])
        if name == "POWER":
            arity(2)
            return F.pow(args[0], args[1])
        raise FormulaSyntaxError(f"unsupported function {name!r}", self.rule)


def compile_formula(
    body: str,
    rule: str,
    resolve_src: SrcResolver,
    resolve_self: SelfResolver,
    resolve_a1: Callable[[int], Column] | None = None,
) -> Column:
    """Compile a ``formula:`` body (with or without the leading ``=``) to a
    Spark ``Column``.  ``resolve_a1`` (1-based column ordinal → Column)
    enables compiled A1-positional references (``=A2+B2``) as row-local
    templates; the mapping compiler binds ordinals to output-column
    declaration positions (reference output-sheet semantics)."""
    text = body.strip()
    if text.startswith("="):
        text = text[1:]
    toks = _tokenize(text, rule)
    if not toks:
        raise FormulaSyntaxError("empty formula", rule)
    parser = _Parser(toks, rule, resolve_src, resolve_self, resolve_a1)
    col = parser.expr()
    if parser.peek() is not None:
        raise FormulaSyntaxError(f"trailing tokens starting at {parser.peek().text!r}", rule)
    return col
