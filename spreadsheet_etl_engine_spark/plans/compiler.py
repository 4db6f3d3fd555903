"""Compile a parsed :class:`MappingSpec` to Catalyst ``Column`` expressions.

The reference interprets rules per row with string substitution
(``main.gs:67-119``): for every row it splices row values into the rule text
(``main.gs:74-77,86-98``), then evaluates (``main.gs:251-289``).  Here the
whole mapping compiles **once** into a ``(filter predicate, select list)``
pair; Catalyst then owns predicate pushdown, column pruning, constant
folding and codegen.  There is no per-row Python anywhere.

Two compilation modes:

* ``fidelity`` — reproduces the reference's display-string semantics
  exactly: every column is treated as a string, ``==``/``!=`` compare
  strings (JS loose equality over two strings is string equality),
  ``> < >= <=`` apply JS ``parseFloat`` semantics (leading-prefix numeric
  parse, non-numeric → NaN → comparison false; ``main.gs:252-259``), and
  DIRECT projection performs the reference's dynamic header indirection
  (``main.gs:106-111``).
* ``typed`` — the idiomatic-Spark mode for typed tables (parquet): pure
  ``src[X]`` operands keep their native types so comparisons and
  arithmetic stay numeric and pushdown-friendly.  Deviations from the
  display-string semantics (e.g. ``"1.0" == "1"``) are documented and
  pinned by tests.

Known compile-time-vs-row-time deviations (both pathological in the
reference and deliberately not reproduced):

* substitution-order operator injection: a *cell value* containing ``==``
  changes how the reference parses the condition for that row; we parse the
  rule text once with ``src[...]`` as atomic tokens;
* the malformed-operator error (``main.gs:266-271``) raises at compile time
  rather than on the first evaluated row.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spreadsheet_etl_engine_spark.errors import (
    CircularSelfRefError,
    UnknownSelfRefError,
)
from spreadsheet_etl_engine_spark.plans import formula as formula_mod
from spreadsheet_etl_engine_spark.plans.parser import (
    JS_STR_WHITESPACE,
    SRC_REF_RE,
    ColumnKind,
    Comparison,
    FilterRule,
    MappingSpec,
)
from spreadsheet_etl_engine_spark.plans.parser import strip_quotes as parser_strip_quotes

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

# ECMA-262 WhiteSpace/LineTerminator class (what both JS ``trim()`` and
# ``parseFloat`` skip): ASCII \s plus NBSP, Ogham, the U+2000 block,
# LS/PS, NNBSP, MMSP, ideographic space and the BOM.  Deliberately NOT
# Python's strip set: FS/GS/RS/US (U+001C-001F) and NEL (U+0085) are Cc
# characters outside ECMA-262 WhiteSpace, so real JS does not skip them
# ('\x1c5' stays unparseable) — neither does this class.
# Mirrored by the test oracle's ``_STR_WHITESPACE`` — change both together.
_JS_WS_CLASS = ("[\\s\u00a0\u1680\u2000-\u200a"
                "\u2028\u2029\u202f\u205f\u3000\ufeff]")

# JS parseFloat: longest numeric prefix, else NaN (→ comparisons false).
# The "Infinity" keyword is accepted (JS does); bare "Inf" is not, and
# neither are Python-isms like "nan" or underscore separators.
_PARSEFLOAT_PREFIX = r"^[+-]?(Infinity|(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?)"
_FULL_FLOAT_RE = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")


def parse_float_literal(text: str) -> float | None:
    """JS ``parseFloat`` applied to a compile-time literal: numeric prefix
    of the trimmed text, else None (NaN).  Deliberately NOT Python
    ``float()``, which accepts "Inf"/"nan"/"1_0" that parseFloat rejects."""
    m = re.match(_PARSEFLOAT_PREFIX, text.strip(JS_STR_WHITESPACE))
    if not m:
        return None
    return float(m.group(0))  # Python float() handles "[+-]Infinity" too


def full_float_literal(text: str) -> float | None:
    """The literal as a number only if the WHOLE text is a plain decimal
    (typed-mode equality: a numeric column can only equal a fully numeric
    literal)."""
    if _FULL_FLOAT_RE.fullmatch(text.strip(JS_STR_WHITESPACE)):
        return float(text.strip(JS_STR_WHITESPACE))
    return None


def parse_float_col(col: Column) -> Column:
    """JS ``parseFloat`` over a string column: numeric *prefix* parse.

    ``"12%"`` → 12.0, ``"3abc"`` → 3.0, ``"abc"`` → NULL (maps to the
    reference's NaN: every comparison against it is false; in SQL tri-logic
    a NULL comparison is NULL which a filter likewise rejects).  Leading
    whitespace is skipped, as JS ``parseFloat`` itself does — ``" 5"``
    parses to 5.0 — including Unicode whitespace (NBSP & co. survive
    HTML/spreadsheet copy-paste; Java's ``\\s`` misses the Unicode set, so
    the class is explicit: NBSP, Ogham, the \u2000
    block, LS/PS, NNBSP, MMSP, ideographic space, and \ufeff — the BOM
    is in ECMA-262 StrWhiteSpace (and lands at cell start when UTF-8
    files with a BOM are pasted into a sheet), so JS parseFloat skips
    it; the pinned oracle model strips it explicitly too (Python
    ``str.strip()`` alone would not).
    """
    unpadded = F.regexp_replace(col.cast("string"), "^" + _JS_WS_CLASS + "+", "")
    extracted = F.regexp_extract(unpadded, _PARSEFLOAT_PREFIX, 0)
    return F.when(extracted != "", extracted.cast("double"))


def js_trim_col(col: Column) -> Column:
    """JS ``String.trim()``: strips the full ECMA-262 whitespace set from
    both ends — Spark's ``F.trim`` strips only ASCII spaces, which
    silently diverges on NBSP & co. that survive spreadsheet copy-paste
    (hypothesis-found: ``"\xa05" == 5`` must match after trim)."""
    out = F.regexp_replace(col, "^" + _JS_WS_CLASS + "+", "")
    return F.regexp_replace(out, _JS_WS_CLASS + "+$", "")


def _strip_quotes_col(col: Column) -> Column:
    """Evaluation-order faithful quote strip: trim (JS semantics), then
    drop one leading and one trailing double quote (``main.gs:284``)."""
    trimmed = js_trim_col(col)
    return F.regexp_replace(F.regexp_replace(trimmed, '^"', ""), '"$', "")


@dataclass
class _Operand:
    """A compiled comparison operand.

    ``pure_ref`` — operand is exactly ``src[X]`` (native-type fast path in
    typed mode).  ``literal`` — operand has no refs at all (its quoted form
    already stripped).  ``expr`` — string-valued expression equivalent to
    the reference's substitute→trim→strip-quotes pipeline.
    """

    expr: Column
    pure_ref: str | None = None
    literal: str | None = None


class MappingCompiler:
    def __init__(self, df: DataFrame, *, mode: str = "typed") -> None:
        if mode not in ("typed", "fidelity"):
            raise ValueError(f"unknown compile mode {mode!r}")
        self.mode = mode
        self.schema = {f.name: f.dataType for f in df.schema.fields}
        self.headers = list(df.columns)

    # --- operands --------------------------------------------------------

    def _is_numeric(self, name: str) -> bool:
        return isinstance(self.schema.get(name), _NUMERIC_TYPES)

    def _substituted_string(self, text: str) -> Column:
        """Compile rule text with embedded ``src[...]`` refs to the string
        Spark expression equivalent to the reference's substitution
        (``main.gs:74-77``): literal segments stay literal, refs become the
        column value rendered as a string."""
        parts: list[Column] = []
        pos = 0
        for m in SRC_REF_RE.finditer(text):
            if m.start() > pos:
                parts.append(F.lit(text[pos:m.start()]))
            parts.append(F.col(m.group(1)).cast("string"))
            pos = m.end()
        if pos < len(text):
            parts.append(F.lit(text[pos:]))
        if not parts:
            return F.lit("")
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    def compile_operand(self, text: str) -> _Operand:
        # JS trim, not Python strip: FS/GS/RS/US and NEL are in Python's
        # set but NOT ECMA-262 WhiteSpace, so '\x1c5' must stay
        # unparseable (NaN) exactly as the reference's parseFloat leaves
        # it; BOM goes, matching trim().
        text = text.strip(JS_STR_WHITESPACE)
        m = SRC_REF_RE.fullmatch(text)
        if m:
            name = m.group(1)
            if self.mode == "typed":
                # Native column, no display-string mangling: keeps the
                # comparison pushdown-eligible (a regexp-wrapped column
                # never reaches PushedFilters).
                return _Operand(expr=F.col(name), pure_ref=name)
            return _Operand(expr=_strip_quotes_col(F.col(name).cast("string")), pure_ref=name)
        if not SRC_REF_RE.search(text):
            literal = parser_strip_quotes(text)
            return _Operand(expr=F.lit(literal), literal=literal)
        return _Operand(expr=_strip_quotes_col(self._substituted_string(text)))

    # --- filter predicate ------------------------------------------------

    def _numeric_side(self, operand: _Operand) -> Column:
        """Operand as a double, with parseFloat fidelity for strings.

        Numeric columns keep their native type (no cast): parquet pushdown
        only fires on untransformed column references.
        """
        if operand.pure_ref is not None:
            if self._is_numeric(operand.pure_ref):
                return F.col(operand.pure_ref)
            if self.mode == "fidelity":
                # operand.expr already carries the reference's trim +
                # one-pair quote strip (main.gs:284); parseFloat must see
                # the stripped text so '"5"' and ' 5' compare as 5.
                return parse_float_col(operand.expr)
            return parse_float_col(F.col(operand.pure_ref))
        if operand.literal is not None:
            value = parse_float_literal(operand.literal)
            return F.lit(value).cast("double")
        return parse_float_col(operand.expr)

    def _equality_sides(self, left: _Operand, right: _Operand) -> tuple[Column, Column]:
        if self.mode == "typed":
            # Native numeric compare when one side is a numeric src column
            # and the other is a numeric src column or a number literal
            # (documented deviation from display-string equality; matches
            # ANSI-SQL oracle semantics).
            def native(o: _Operand) -> bool:
                return o.pure_ref is not None and self._is_numeric(o.pure_ref)

            def num_lit(o: _Operand) -> Column | None:
                if o.literal is None:
                    return None
                value = full_float_literal(o.literal)
                return None if value is None else F.lit(value)

            if native(left) and native(right):
                return F.col(left.pure_ref), F.col(right.pure_ref)
            if native(left) and num_lit(right) is not None:
                return F.col(left.pure_ref), num_lit(right)
            if native(right) and num_lit(left) is not None:
                return num_lit(left), F.col(right.pure_ref)
            if (native(left) and right.literal is not None) or (
                native(right) and left.literal is not None
            ):
                # Numeric column vs non-numeric literal: the reference's
                # string compare can never match ("20.0" == "abc"), and
                # letting Spark coerce would raise under ANSI mode.
                return None, None
        return left.expr, right.expr

    def compile_condition(self, cmp: Comparison) -> Column:
        if cmp.always_false:
            return F.lit(False)
        left = self.compile_operand(cmp.left or "")
        right = self.compile_operand(cmp.right or "")
        if cmp.op == "==":
            a, b = self._equality_sides(left, right)
            return F.lit(False) if a is None else a == b
        if cmp.op == "!=":
            a, b = self._equality_sides(left, right)
            return F.lit(True) if a is None else a != b
        a, b = self._numeric_side(left), self._numeric_side(right)
        if cmp.op == ">=":
            return a >= b
        if cmp.op == "<=":
            return a <= b
        if cmp.op == ">":
            return a > b
        return a < b

    def compile_filter(self, rule: FilterRule) -> Column | None:
        """OR over the rule's conditions (``main.gs:261-263``); non-eval
        rules pass everything (``main.gs:71-72``)."""
        if not rule.is_eval:
            return None
        pred: Column | None = None
        for cond in rule.conditions:
            c = self.compile_condition(cond)
            pred = c if pred is None else (pred | c)
        return pred

    def compile_predicate(self, spec: MappingSpec) -> Column | None:
        """AND across filter rules (``main.gs:71``)."""
        pred: Column | None = None
        for rule in spec.filters:
            p = self.compile_filter(rule)
            if p is not None:
                pred = p if pred is None else (pred & p)
        return pred

    # --- projection ------------------------------------------------------

    def _direct(self, instruction: str) -> Column:
        """DIRECT resolution (``main.gs:106-111``): substitute ``src[...]``,
        then if the result names a source header emit that column's value,
        else emit the substituted text itself."""
        m = SRC_REF_RE.fullmatch(instruction)
        if self.mode == "typed":
            if m:
                return F.col(m.group(1))
            if instruction in self.headers and not SRC_REF_RE.search(instruction):
                return F.col(instruction)
            if not SRC_REF_RE.search(instruction):
                return F.lit(instruction)
            return self._substituted_string(instruction)
        # Fidelity mode: the substituted *value* may itself name a header
        # (dynamic indirection): look it up in the shared header map.
        substituted = self._substituted_string(instruction)
        names, values = self._header_lookup
        return F.when(substituted.isin(names), values[substituted]).otherwise(substituted)

    @cached_property
    def _header_lookup(self) -> tuple[list[str], Column]:
        """Header names and a ``header -> value-as-string`` map column,
        built once per compiler and shared by every DIRECT column.  The
        lookup is guarded by ``isin`` rather than coalesced: a header
        whose cell is NULL must yield NULL, not the substituted text."""
        names = list(dict.fromkeys(self.headers))
        pairs = [c for h in names for c in (F.lit(h), F.col(h).cast("string"))]
        return names, F.create_map(*pairs)

    def compile_columns(self, spec: MappingSpec) -> list[Column]:
        """Ordered projection list with topological resolution.

        ``self[X]`` (by name) resolves to the compiled expression of an
        EARLIER-declared output column only — matching the reference's
        substitution pass, which replaces refs from the incrementally
        built ``outputRowRefs`` (``main.gs:99-114``); a forward
        ``self[...]`` there survives as literal text the spreadsheet
        cannot evaluate, so the compiled path keeps it fail-loud.

        A1 letters bind to output columns by declaration position and
        MAY point forward: the reference's formula text lands in the
        output sheet (``main.gs:107-108``) where the spreadsheet
        evaluates it against the full grid, so ``=D2`` from column A
        resolves there.  The compiled path reproduces that with a
        multi-pass topological compile; cycles (which the spreadsheet
        flags as circular references) raise ``CircularSelfRefError``.
        Value semantics throughout — address semantics exist only in
        the xlsx pass-through sink (SURVEY §7)."""
        cols = spec.columns
        n = len(cols)
        decl_pos = {c.name: i for i, c in enumerate(cols)}
        compiled: dict[str, Column] = {}
        slots: dict[int, Column] = {}

        class _Deferred(Exception):
            """The referenced column appears later in declaration order
            and is not compiled yet — retry this column next pass."""

        def compile_one(idx: int, col) -> Column:
            if col.kind == ColumnKind.CONSTANT:
                # The reference's substitution pass runs for every column
                # type (main.gs:85-97): src[...] inside a constant splices
                # the row value (unquoted — the quote-wrap is formula-only).
                # Deviation (documented): self[...] inside a constant stays
                # literal text here; the reference emits the A1 *address*
                # of an earlier output column, which only exists in the
                # xlsx pass-through sink where surviving-row numbering is
                # materialized.
                return self._substituted_string(col.instruction) \
                    if SRC_REF_RE.search(col.instruction) else F.lit(col.instruction)
            if col.kind == ColumnKind.FORMULA:
                def resolve_src(name: str) -> Column:
                    return F.col(name)

                def resolve_self(name: str, _rule: str = col.name,
                                 _idx: int = idx) -> Column:
                    if name not in decl_pos or decl_pos[name] >= _idx:
                        raise UnknownSelfRefError(name, _rule)
                    if name not in compiled:
                        raise _Deferred()  # earlier column itself pending
                    return compiled[name]

                def resolve_a1(ordinal: int, _rule: str = col.name,
                               _idx: int = idx) -> Column:
                    if ordinal > n:
                        raise UnknownSelfRefError(
                            f"output column #{ordinal} (only {n} output "
                            "columns declared; A1 letters bind to output "
                            "columns by declaration position)",
                            _rule)
                    if ordinal - 1 == _idx:
                        raise CircularSelfRefError([_rule])
                    if ordinal - 1 not in slots:
                        raise _Deferred()
                    return slots[ordinal - 1]

                return formula_mod.compile_formula(
                    col.instruction, col.name, resolve_src, resolve_self,
                    resolve_a1,
                )
            return self._direct(col.instruction)

        pending = list(enumerate(cols))
        while pending:
            progressed = False
            still: list = []
            for idx, col in pending:
                try:
                    expr = compile_one(idx, col)
                except _Deferred:
                    still.append((idx, col))
                    continue
                compiled[col.name] = expr
                slots[idx] = expr
                progressed = True
            if not progressed:
                raise CircularSelfRefError([c.name for _, c in still])
            pending = still
        return [slots[i].alias(cols[i].name) for i in range(n)]


def compile_mapping(
    df: DataFrame, spec: MappingSpec, *, mode: str = "typed"
) -> tuple[Column | None, list[Column]]:
    compiler = MappingCompiler(df, mode=mode)
    return compiler.compile_predicate(spec), compiler.compile_columns(spec)
