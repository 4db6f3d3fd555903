"""Query registry: the driver-facing inventory of implemented operators.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL oracle that DuckDB runs on the same parquet
tables (``__spark_entry__.queries`` / ``oracle_sql``).  Conventions that
make the driver's order-insensitive value-hash comparison deterministic:

* every computed column is aliased identically on both sides;
* unordered double sums go through ``DECIMAL(18,2)`` (exact, associative)
  and are cast back to double once — bit-identical across engines
  regardless of partitioning / aggregation order;
* CAVEAT on that final cast (r9 edge-family-8 find): DuckDB's
  hugeint-backed wide-DECIMAL → DOUBLE cast is up to 2 ULP off once the
  value's |cents| exceed 2^53 (~9e13), while Spark's BigDecimal cast is
  correctly rounded.  Group sums normally stay far below that, but if an
  oracle's decimal aggregate can land there (window frames slicing big
  magnitudes apart), route the cast through VARCHAR —
  ``CAST(CAST(dec AS VARCHAR) AS DOUBLE)`` is correctly rounded in both
  engines (see events_rolling_window);
* timestamp- and date-typed outputs are cast to string on both sides
  (sidesteps tz-awareness mismatches between Spark UTC sessions and
  DuckDB naive timestamps);
* top-k orderings always carry a unique tiebreaker column.

Scale notes are inline: broadcast hints for dimension joins, pre-aggregation
before joins where possible, no driver-side loops anywhere.
"""

from __future__ import annotations

import functools
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spreadsheet_etl_engine_spark import checkwindow
from spreadsheet_etl_engine_spark.functions.numeric import finite_or_fail
from spreadsheet_etl_engine_spark.plans.parser import parse_mapping
from spreadsheet_etl_engine_spark.plans.runner import run_mapping
from spreadsheet_etl_engine_spark.sources.readers import load_table


@dataclass(frozen=True)
class RegisteredQuery:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = RegisteredQuery(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _dec_sum(col, alias: str, what: str | None = None):
    """Order-independent double sum: sum in DECIMAL(18,2), cast back once.

    Domain contract: the decimal route bounds summed magnitudes to
    |x| < 10^16.  A larger value (corpus garbage — a 1e300 poison row)
    fails LOUD under ANSI with NUMERIC_VALUE_OUT_OF_RANGE naming the
    cast, rather than silently skewing the sum; the sanctioned upstream
    guard is an ``in_range`` quality constraint on the measure
    (operators/quality.py).  Pinned by
    tests/test_ext_operators.py::test_decimal_sum_domain_fails_loud.
    NaN/±Infinity are the domain's OTHER boundary — ANSI silently NULLs
    them out of decimal casts, so finite_or_fail raises instead (r9
    edge-family-9 find, same fail-loud contract).  ``what`` names the
    SOURCE column in the raise message (the alias is the output column,
    which an operator grepping the feed would never find)."""
    return (
        F.sum(finite_or_fail(col, what or alias).cast("decimal(18,2)"))
        .cast("double").alias(alias)
    )


def _cents(col) -> "F.Column":
    """2-decimal money as integer cents: round(x*100) is within 1e-9 of an
    integer for every stored double, so both engines land on the same
    value, and the subsequent sum is exact long arithmetic — faster than
    wide-decimal accumulation and just as order-independent."""
    return F.round(col * 100).cast("long")


def _cents_sum(col, alias: str):
    return (F.sum(_cents(col)) / 100.0).alias(alias)


def _revenue_sum(alias: str):
    """sum(extendedprice * (1 - discount)) in exact integer arithmetic:
    cents * (100 - discount_percent_x100) summed as longs, one final
    division.  No float accumulation, no decimal object overhead."""
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (F.sum(rev) / 10000.0).alias(alias)


# The matching oracle fragments.
_CENTS_BASE_SQL = (
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0"
)
_REVENUE_SQL = (
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0"
)


# ---------------------------------------------------------------------------
# DSL parity queries — run through the actual Map-rule engine
# (parser → compiler → runner), not hand-built DataFrames, so the oracle
# checks the full reference-semantics path end-to-end.
# ---------------------------------------------------------------------------

@register(
    "dsl_flagship",
    oracle="""
    SELECT l_orderkey AS OrderKey, l_linenumber AS LineNumber,
           'Active' AS Status,
           l_extendedprice * (1 - l_discount) AS GrossPrice
    FROM lineitem
    WHERE l_quantity >= 30 OR l_returnflag = 'R'
    """,
    doc="Reference pipeline shape Scan->Filter->Project (main.gs:38-140): "
        "eval filter with OR, direct / constant / formula projections.",
)
def dsl_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    spec = parse_mapping(
        [
            ("_filter:qty", 'eval: src[l_quantity] >= 30 || src[l_returnflag] == "R"'),
            ("OrderKey", "src[l_orderkey]"),
            ("LineNumber", "src[l_linenumber]"),
            ("Status", "constant:Active"),
            ("GrossPrice", "formula:=src[l_extendedprice]*(1-src[l_discount])"),
        ],
        li.columns,
    )
    return run_mapping(li, spec)


@register(
    "dsl_filter_ops",
    oracle="""
    SELECT l_orderkey AS OrderKey, l_linenumber AS LineNumber,
           l_discount AS Discount, l_quantity AS Qty
    FROM lineitem
    WHERE (l_discount <= 0.02 OR l_quantity < 5)
      AND (l_linenumber > 2 OR l_returnflag <> 'N')
    """,
    doc="All six comparators, AND across rules / OR within a rule "
        "(main.gs:71,252-263).",
)
def dsl_filter_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    spec = parse_mapping(
        [
            ("_filter:a", "eval: src[l_discount] <= 0.02 || src[l_quantity] < 5"),
            ("_filter:b", 'eval: src[l_linenumber] > 2 || src[l_returnflag] != "N"'),
            ("OrderKey", "src[l_orderkey]"),
            ("LineNumber", "src[l_linenumber]"),
            ("Discount", "src[l_discount]"),
            ("Qty", "src[l_quantity]"),
        ],
        li.columns,
    )
    return run_mapping(li, spec)


@register(
    "dsl_direct_constant",
    oracle="""
    SELECT l_returnflag AS Flag, 'not_a_header' AS Label, '42' AS Tag,
           l_orderkey AS OrderKey
    FROM lineitem
    WHERE l_linestatus = 'O'
    """,
    doc="DIRECT bare-header resolution, DIRECT literal fallback "
        "(main.gs:106-111), CONSTANT, comment rows and no-op filters "
        "(main.gs:72,191-193).",
)
def dsl_direct_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    spec = parse_mapping(
        [
            ("_filter:status", 'eval: src[l_linestatus] == "O"'),
            ("// disabled rule", "src[l_orderkey]"),
            ("_filter:noop", "this instruction is not eval so it passes all"),
            ("Flag", "l_returnflag"),
            ("Label", "not_a_header"),
            ("Tag", "constant:42"),
            ("OrderKey", "src[l_orderkey]"),
        ],
        li.columns,
    )
    return run_mapping(li, spec)


@register(
    "dsl_formula_chain",
    oracle="""
    SELECT l_orderkey AS OrderKey,
           l_quantity * 2 AS Calc,
           l_quantity * 2 + 1 AS Chained,
           CASE WHEN l_quantity >= 25 THEN 'big' ELSE 'small' END AS Bucket
    FROM lineitem
    """,
    doc="Compiled formulas incl. self[...] value chaining (main.gs:100-114 "
        "-> lateral-alias equivalent) and IF.",
)
def dsl_formula_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    spec = parse_mapping(
        [
            ("OrderKey", "src[l_orderkey]"),
            ("Calc", "formula:=src[l_quantity]*2"),
            ("Chained", "formula:=self[Calc]+1"),
            ("Bucket", 'formula:=IF(src[l_quantity]>=25, "big", "small")'),
        ],
        li.columns,
    )
    return run_mapping(li, spec)


@register(
    "dsl_a1_formula",
    oracle="""
    SELECT l_extendedprice AS Price,
           l_quantity AS Qty,
           l_orderkey AS OrderKey,
           l_extendedprice + l_quantity * 2 AS Total,
           (l_extendedprice + l_quantity * 2) * 10 AS Grand
    FROM lineitem
    """,
    doc="Compiled A1-positional formulas (reference README.md:76 "
        "'Total -> formula:=A2+B2'): letters address OUTPUT columns by "
        "declaration position — in the reference the formula text lands "
        "in the output sheet (main.gs:107-108), so =A2+B2 reads the "
        "output grid, not the source. The output order here deliberately "
        "differs from the source order (Price before Qty, OrderKey "
        "demoted to C) so the oracle distinguishes output binding from "
        "source-ordinal binding; Grand chains off the Total formula "
        "column (D2). Compiles to plain column arithmetic — same codegen "
        "plan as src[...] refs.",
)
def dsl_a1_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Output grid: A=Price, B=Qty, C=OrderKey, D=Total — NOT the source
    # order (source A..E are l_orderkey..l_quantity).
    spec = parse_mapping(
        [
            ("Price", "src[l_extendedprice]"),
            ("Qty", "src[l_quantity]"),
            ("OrderKey", "src[l_orderkey]"),
            ("Total", "formula:=A2+B2*2"),
            ("Grand", "formula:=D2*10"),
        ],
        li.columns,
    )
    return run_mapping(li, spec)


@register(
    "dsl_a1_forward",
    oracle="""
    SELECT l_orderkey AS OrderKey,
           (l_extendedprice * (1 - l_discount)) * 2 AS WithMarkup,
           l_extendedprice * (1 - l_discount) AS Net,
           (l_extendedprice * (1 - l_discount)) * 2
             - (l_extendedprice * (1 - l_discount)) AS Audit
    FROM lineitem
    """,
    doc="Forward A1 references (r5 capability-gap close): in the "
        "reference the emitted formula text is evaluated by the "
        "spreadsheet against the FULL output grid (main.gs:107-108), so "
        "=C2 from column B resolves even though C is declared later.  "
        "The compiled path reproduces that with a topological "
        "multi-pass compile (plans/compiler.py:compile_columns); "
        "WithMarkup reads the later-declared Net (forward), Audit then "
        "chains backward off both.  Cycles raise CircularSelfRefError — "
        "the spreadsheet's circular-reference error, fail-loud.",
)
def dsl_a1_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    spec = parse_mapping(
        [
            ("OrderKey", "src[l_orderkey]"),
            ("WithMarkup", "formula:=C2*2"),  # forward: C=Net is declared next
            ("Net", "formula:=src[l_extendedprice]*(1-src[l_discount])"),
            ("Audit", "formula:=B2-C2"),      # backward off the forward chain
        ],
        li.columns,
    )
    return run_mapping(li, spec)


@register(
    "dsl_xlsx_roundtrip",
    oracle="""
    SELECT CAST(s_suppkey AS VARCHAR) AS SuppKey,
           s_name AS Name,
           'Verified' AS Status,
           CAST(s_acctbal * 2 AS VARCHAR) AS DoubleBal
    FROM supplier
    WHERE s_acctbal > 0
    """,
    doc="Spreadsheet-native egress+ingest end-to-end — the reference's "
        "whole identity (main.gs:51-53 reads the sheet, main.gs:124-129 "
        "overwrites it): parse -> compile -> run the mapping, write the "
        "result to a real .xlsx workbook (stdlib OOXML codec, "
        "sources/xlsx_native.py), read it back in fidelity mode "
        "(getDisplayValues semantics: every column a display string) and "
        "return that.  The oracle checks the *round-tripped strings*, so "
        "cell encoding, XML escaping and number formatting are all under "
        "the hash.  xlsx is driver-side and sheet-sized by design; the "
        "100 TB sinks are parquet/CSV.",
)
def dsl_xlsx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from spreadsheet_etl_engine_spark.sources.readers import read_excel
    from spreadsheet_etl_engine_spark.sources.writers import write_xlsx

    sup = load_table(spark, sf_dir, "supplier")
    spec = parse_mapping(
        [
            ("_filter:bal", "eval: src[s_acctbal] > 0"),
            ("SuppKey", "src[s_suppkey]"),
            ("Name", "src[s_name]"),
            ("Status", "constant:Verified"),
            ("DoubleBal", "formula:=src[s_acctbal]*2"),
        ],
        sup.columns,
    )
    out = run_mapping(sup, spec)
    fd, path = tempfile.mkstemp(suffix=".xlsx")
    os.close(fd)
    try:
        write_xlsx(out, path, sheet_name="Output")
        # read_excel materializes driver-side, so the temp file can go
        # away as soon as the DataFrame exists.
        return read_excel(spark, path, fidelity=True)
    finally:
        os.unlink(path)


@register(
    "dsl_workbook_job",
    oracle="""
    SELECT CAST(s_suppkey AS VARCHAR) AS SuppKey,
           s_name AS Name,
           CAST(s_nationkey AS VARCHAR) AS Nation,
           CAST(s_acctbal * 2 AS VARCHAR) AS DoubleBal
    FROM supplier
    WHERE s_acctbal > 1000
    """,
    doc="The reference's FLAGSHIP workflow end-to-end (main.gs:38-140): "
        "one workbook holding Dashboard (config remapping every sheet "
        "name), Rules (the Map sheet, parsed from cells), and a data "
        "sheet -> run_workbook -> the same workbook written back with "
        "the Result sheet added -> fidelity read-back of that sheet. "
        "Exercises what dsl_xlsx_roundtrip does not: Dashboard key/value "
        "config, map-table-from-cells parsing, FIDELITY-mode execution "
        "over display strings (parseFloat filter on a number cell's "
        "string), and the multi-sheet preserve-and-replace sink. "
        "Workbook-sized driver-side path by design.",
)
def dsl_workbook_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from spreadsheet_etl_engine_spark.jobs import run_workbook
    from spreadsheet_etl_engine_spark.sources import xlsx_native
    from spreadsheet_etl_engine_spark.sources.readers import read_excel

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    rows = [tuple(r) for r in sup.collect()]
    tmpdir = tempfile.mkdtemp()
    try:
        src = os.path.join(tmpdir, "in.xlsx")
        dst = os.path.join(tmpdir, "out.xlsx")
        xlsx_native.write_workbook_multi(src, [
            ("Dashboard", ["Key", "Value"],
             [("source", "Suppliers"), ("map", "Rules"), ("output", "Result")]),
            ("Rules", ["Rule", "Instruction"],
             [("// doubled balances of healthy suppliers", ""),
              ("_filter:pos", "eval: src[s_acctbal] > 1000"),
              ("SuppKey", "src[s_suppkey]"),
              ("Name", "src[s_name]"),
              ("Nation", "src[s_nationkey]"),
              ("DoubleBal", "formula:=src[s_acctbal]*2")]),
            ("Suppliers", ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
             rows),
        ])
        run_workbook(spark, src, dst)
        return read_excel(spark, dst, sheet_name="Result", fidelity=True)
    finally:
        shutil.rmtree(tmpdir)


@register(
    "dsl_json_source",
    oracle="""
    SELECT c_custkey AS CustKey, c_name AS Name,
           'Ingested' AS Status,
           c_acctbal * 2 AS DoubleBal
    FROM customer
    WHERE c_acctbal > 0
    """,
    doc="JSON-lines ingest end-to-end: the customer table is exported to "
        "JSON-lines (distributed Spark write), re-read through read_json "
        "(sources/readers.py) with an EXPLICIT schema — the production "
        "JSON practice: inference costs a second pass and fails on an "
        "empty slice (r8 empty-slice find) — and run through the "
        "Map-rule engine (filter + direct/constant/formula projections). "
        "The oracle computes the same result from the parquet view, so "
        "JSON serialization, schema-bound typed reads (bigint/double/"
        "string) and the DSL path are all under the hash (schemaless "
        "inference is covered by unit tests only).  The JSON scan is a "
        "distributed file source — no driver materialization; the "
        "localCheckpoint only decouples the result from the temp fixture.",
)
def dsl_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from spreadsheet_etl_engine_spark.sources.readers import read_json

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    tmpdir = tempfile.mkdtemp()
    try:
        path = f"{tmpdir}/customer_json"
        cust.write.mode("overwrite").json(path)
        src = read_json(spark, path, schema=cust.schema)
        spec = parse_mapping(
            [
                ("_filter:pos", "eval: src[c_acctbal] > 0"),
                ("CustKey", "src[c_custkey]"),
                ("Name", "src[c_name]"),
                ("Status", "constant:Ingested"),
                ("DoubleBal", "formula:=src[c_acctbal]*2"),
            ],
            src.columns,
        )
        # Materialize (executor-side, lineage truncated) before the temp
        # fixture disappears; the caller still gets a lazy DataFrame.
        return run_mapping(src, spec).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmpdir)


@register(
    "dsl_orc_roundtrip",
    oracle="""
    SELECT o_orderkey AS OrderKey, o_orderstatus AS Status,
           'orc' AS Source,
           o_totalprice * 1.1 AS Uplift
    FROM orders
    WHERE o_totalprice > 100000
    """,
    doc="ORC ingest end-to-end (the second Spark-native columnar source "
        "beside parquet — same pushdown/pruning story): orders exported "
        "to ORC (distributed write), re-read through read_orc, and run "
        "through the Map-rule engine; the oracle computes the same "
        "result from the parquet view, so the ORC round-trip and the "
        "DSL path are both under the hash.",
)
def dsl_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from spreadsheet_etl_engine_spark.sources.readers import read_orc
    from spreadsheet_etl_engine_spark.sources.writers import write_orc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmpdir = tempfile.mkdtemp()
    try:
        path = f"{tmpdir}/orders_orc"
        write_orc(orders, path)
        src = read_orc(spark, path)
        spec = parse_mapping(
            [
                ("_filter:big", "eval: src[o_totalprice] > 100000"),
                ("OrderKey", "src[o_orderkey]"),
                ("Status", "src[o_orderstatus]"),
                ("Source", "constant:orc"),
                ("Uplift", "formula:=src[o_totalprice]*1.1"),
            ],
            src.columns,
        )
        return run_mapping(src, spec).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmpdir)


@register(
    "dsl_csv_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS NationKey,
           n_name AS Name, 'csv' AS Source
    FROM nation
    WHERE try_cast(CAST(n_regionkey AS VARCHAR) AS DOUBLE) >= 2
    """,
    doc="CSV ingest end-to-end in FIDELITY mode (the reference's "
        "display-string data model over its native interchange format): "
        "nation exported to headered CSV (distributed write), re-read "
        "with every column a string, and run through the Map-rule engine "
        "with a parseFloat-semantics filter.  The oracle recomputes from "
        "the parquet view with the same display-string coercions, so CSV "
        "serialization and fidelity typing are both under the hash.",
)
def dsl_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from spreadsheet_etl_engine_spark.sources.readers import read_csv
    from spreadsheet_etl_engine_spark.sources.writers import write_csv

    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    tmpdir = tempfile.mkdtemp()
    try:
        path = f"{tmpdir}/nation_csv"
        write_csv(nat, path)
        src = read_csv(spark, path, fidelity=True)
        spec = parse_mapping(
            [
                ("_filter:east", "eval: src[n_regionkey] >= 2"),
                ("NationKey", "src[n_nationkey]"),
                ("Name", "src[n_name]"),
                ("Source", "constant:csv"),
            ],
            src.columns,
        )
        return run_mapping(src, spec, mode="fidelity").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmpdir)


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 200000
    """,
    doc="Partition-pruned scan: orders persisted partitioned by "
        "o_orderstatus, then filtered on the partition column — the scan "
        "touches ONLY the matching partition directory (the "
        "PartitionFilters plan shape is asserted by tests/"
        "test_scale_plans.py::test_partitioned_write_prunes_partitions; "
        "this query puts the values under the driver's hash).  Partition "
        "layout + pruning is the first-order lever at 100 TB: a time/"
        "status-partitioned fact table turns full scans into "
        "single-partition reads.",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from spreadsheet_etl_engine_spark.sources.writers import write_parquet

    orders = load_table(spark, sf_dir, "orders")
    tmpdir = tempfile.mkdtemp()
    try:
        path = f"{tmpdir}/orders_part"
        write_parquet(orders, path, partition_by=["o_orderstatus"])
        # Explicit schema on the read-back: a zero-row write leaves no
        # part files to infer from (r8 empty-slice find), and the
        # partitioned layout is schema-known at write time anyway.
        part = spark.read.schema(orders.schema).parquet(path)
        return (
            part.filter((F.col("o_orderstatus") == "F")
                        & (F.col("o_totalprice") > 200000))
            .select("o_orderkey", "o_totalprice")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmpdir)


@register(
    "scan_zorder_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 15
      AND l_extendedprice BETWEEN 20000 AND 40000
    """,
    doc="Box-predicate scan over a write_zordered copy of lineitem "
        "(sources/writers.py:write_zordered): rows identical to the same "
        "predicate on the raw table — clustering is a pure layout "
        "transform — while parquet row-group min/max stats prune the "
        "read because Z-ordering makes BOTH dimensions' value ranges "
        "tight per file (skip ratios are pinned by tests/"
        "test_multimodal_and_writers.py; this query puts the end-to-end "
        "values under the driver's hash the way join_fact_fact_bucketed "
        "does for bucketing).  At 100 TB a Z-ordered fact table turns "
        "multi-dimensional slicing — the access pattern of curation "
        "dashboards and quality triage — into reads that touch only the "
        "matching hyper-rectangles.",
)
def scan_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from spreadsheet_etl_engine_spark.sources.writers import write_zordered

    li = load_table(spark, sf_dir, "lineitem")
    tmpdir = tempfile.mkdtemp()
    try:
        path = f"{tmpdir}/lineitem_z"
        write_zordered(
            li, path, zorder_by=["l_quantity", "l_extendedprice"], n_files=8
        )
        z = spark.read.parquet(path)
        return (
            z.filter(
                F.col("l_quantity").between(10, 15)
                & F.col("l_extendedprice").between(20000, 40000)
            )
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmpdir)


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           NULL AS o_orderpriority, 1 AS b
    FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, 2
    FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    """,
    doc="Schema-evolution scan: two ingest batches land with different "
        "schemas (the newer one adds o_orderpriority), written as "
        "key=value partition directories; one mergeSchema read unifies "
        "them, back-filling NULL for the column the old batch never had. "
        "This is how a 100 TB table absorbs schema drift without "
        "rewriting history — per-file footer schemas merge at planning "
        "time, old files are never touched, and the partition column "
        "(batch id) stays prunable.",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("timestamp")
    tmpdir = tempfile.mkdtemp()
    try:
        root = f"{tmpdir}/orders_evolving"
        orders.filter(F.col("o_orderdate") < cutoff).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.parquet(f"{root}/b=1")
        orders.filter(F.col("o_orderdate") >= cutoff).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(f"{root}/b=2")
        merged = spark.read.option("mergeSchema", "true").parquet(root)
        return merged.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderpriority",
            F.col("b").cast("int").alias("b"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmpdir)


# ---------------------------------------------------------------------------
# Relational surface (reference roadmap README.md:121-122: joins, advanced
# expressions — expressed as idiomatic Spark, each with a SQL oracle).
# ---------------------------------------------------------------------------

@register(
    "join_dims_broadcast",
    oracle="""
    SELECT r_name, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Star join: fact->dim->dim. Dims are broadcast (no shuffle of the "
        "big side at 100 TB); agg is partial/map-side first.",
)
def join_dims_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            _dec_sum(F.col("c_acctbal"), "total_acctbal", what="c_acctbal"),
        )
    )


@register(
    "join_fact_fact",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           {_REVENUE_SQL} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="Large-side shuffle hash join on the natural key; at scale both "
        "sides would be bucketed on orderkey to avoid the shuffle entirely. "
        "Filter applied before the join so it pushes to the orders scan.",
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            _revenue_sum("revenue"),
        )
    )


@register(
    "join_fact_fact_bucketed",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           count(*) AS n_lines,
           {_REVENUE_SQL} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_orderpriority
    """,
    doc="Zero-Exchange fact-fact join: both sides persisted bucketed on "
        "the join key (sources/writers.py write_bucketed), so the "
        "sort-merge join — and the per-order aggregation after it, whose "
        "grouping keys are a superset of the bucket key — run with no "
        "shuffle at all (plan-asserted in tests/test_scale_plans.py). "
        "This is the pay-the-shuffle-once-at-ingest layout for fact-fact "
        "joins that repeat at 100 TB; the merge hint stands in for the "
        "broadcast threshold a real fact table would exceed anyway.",
)
def join_fact_fact_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    bo, bl = _bucketed_fact_tables(spark, sf_dir)
    o = spark.table(bo)
    li = spark.table(bl)
    return (
        o.join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            _revenue_sum("revenue"),
        )
    )


def _bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create-or-reuse bucketed copies of orders/lineitem for ``sf_dir``.

    The bucketed layout is an ingest-time artifact; within one Spark
    application it is built once per scale factor (catalog lookup) and
    reused.  The files live under /tmp in a directory named after the
    application and the source dir: the catalog entry that reuses them
    lives exactly as long as the application, a concurrent application
    never overwrites them, and the directory is deleted when the JVM's
    file systems close.
    """
    import hashlib

    from spreadsheet_etl_engine_spark.sources.writers import write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    app_dir = f"/tmp/spark_graft_buckets/{spark.sparkContext.applicationId}"
    names = []
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bkt_{tbl}_{tag}"
        if not spark.catalog.tableExists(name):
            write_bucketed(load_table(spark, sf_dir, tbl), name,
                           f"{app_dir}/{tag}/{tbl}", buckets=8, key=key)
            path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(app_dir)
            path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()) \
                .deleteOnExit(path)
        names.append(name)
    return names[0], names[1]


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left-semi join (EXISTS): no payload from the probe side crosses "
        "the network; Spark broadcasts the smaller distinct key set.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 300000)
    """,
    doc="Left-anti join (NOT EXISTS) against a filtered build side — "
        "customers with no large order. The price filter keeps the result "
        "non-empty at every SF (3/30/308 rows) so the check has "
        "discriminating power; a plain anti vs all orders is always empty "
        "in this data (every customer has orders).",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_full_outer",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 7000
    ), o AS (
      SELECT o_custkey, count(*) AS n_urgent FROM orders
      WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    )
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name, o.n_urgent
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
    doc="Full-outer reconciliation join: high-balance customers vs urgent-"
        "order counts, keeping unmatched rows from BOTH sides (NULL "
        "name = orders from a customer outside the filter; NULL count = "
        "customer with no urgent orders) — the two-system reconciliation "
        "shape.  Full outer cannot broadcast (both sides must surface "
        "unmatched rows), so it shuffle-joins on the key; the order side "
        "pre-aggregates to one row per customer BEFORE the join, which "
        "is what keeps the shuffled volume at |keys|, not |orders|.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7000)
        .select("c_custkey", "c_name")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_urgent"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_urgent",
    )


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS count_order,
           sum(l_quantity) AS sum_qty,
           {_CENTS_BASE_SQL} AS sum_base_price,
           {_REVENUE_SQL} AS sum_disc_price,
           -- count(l_quantity), not count(*): AVG semantics ignore NULL
           -- quantities (r9 review find — same divisor class agg_moments
           -- fixed in r6; both sides previously deflated the average)
           sum(l_quantity) / count(l_quantity) AS avg_qty,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style hash aggregation: map-side partial agg + single "
        "shuffle on the (low-cardinality) group keys.",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("count_order"),
        F.sum("l_quantity").alias("sum_qty"),
        _cents_sum(F.col("l_extendedprice"), "sum_base_price"),
        _revenue_sum("sum_disc_price"),
        (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Grouping sets / rollup (subtotals + grand total).",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="Cube over two order dimensions.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@register(
    "agg_approx_distinct",
    oracle=None,  # approximate by design: rows-only check (count is stable
    # for a fixed dataset+rsd but not ANSI-SQL reproducible in DuckDB).
    doc="approx_count_distinct (HyperLogLog++): the scale path for "
        "count(distinct) — one pass, fixed memory, no exact shuffle.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


@register(
    "window_rank_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
    doc="Window function top-N per key; unique tiebreaker keeps it "
        "deterministic. One shuffle on the partition key.",
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      -- NULLS LAST pinned (r9 review find): Spark defaults
                      -- ASC NULLS FIRST, DuckDB NULLS LAST
                      ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend
    FROM orders
    """,
    doc="Running total per customer (rowsBetween frame); decimal "
        "accumulation keeps the prefix sums engine-independent.",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # NULLS LAST pinned on BOTH order keys and both sides (r9 review
    # find): Spark defaults ASC NULLS FIRST, DuckDB NULLS LAST — an
    # unpinned NULL order date would shift every value in the
    # partition differently per engine.
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), F.asc_nulls_last("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(finite_or_fail(F.col("o_totalprice"), "o_totalprice")
              .cast("decimal(18,2)")).over(w).cast("double")
        .alias("running_spend"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS order_date,
           CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                       -- NULLS LAST pinned (r9 review find)
                                       ORDER BY o_orderdate NULLS LAST,
                                                o_orderkey NULLS LAST) AS VARCHAR)
               AS prev_order_date
    FROM orders
    """,
    doc="lag/lead navigation within a key's timeline.",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # NULLS LAST pinned on BOTH order keys and both sides (r9 review
    # find): Spark defaults ASC NULLS FIRST, DuckDB NULLS LAST — an
    # unpinned NULL order date would shift every value in the
    # partition differently per engine.
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), F.asc_nulls_last("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("order_date"),
        F.lag("o_orderdate").over(w).cast("string").alias("prev_order_date"),
    )


@register(
    "sort_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject (per-partition "
        "heap + driver merge of k rows), never a full sort at scale.",
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10).select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "set_except",
    oracle="""
    SELECT DISTINCT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
    doc="Set difference with distinct semantics.",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    with_orders = o.select(F.col("o_custkey").alias("custkey")).distinct()
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return with_orders.subtract(building)


@register(
    "set_intersect",
    oracle="""
    SELECT DISTINCT o_custkey AS custkey FROM orders
    INTERSECT
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
    doc="Set intersection with distinct semantics.",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.select(F.col("o_custkey").alias("custkey"))
        .intersect(
            c.filter(F.col("c_mktsegment") == "BUILDING").select(
                F.col("c_custkey").alias("custkey")
            )
        )
    )


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
    """,
    doc="Union with distinct semantics (UNION vs UNION ALL).",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = c.filter(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct()


@register(
    "distinct_nations_per_segment",
    oracle="""
    SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations
    FROM customer GROUP BY c_mktsegment
    """,
    doc="Exact distinct aggregation.",
)
def distinct_nations_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(F.countDistinct("c_nationkey").alias("n_nations"))


@register(
    "scalar_string_math",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_name, 1, 10) AS name10,
           length(p_name) AS name_len,
           p_brand || '-' || p_type AS brand_type,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           abs(p_size - 25) AS size_dist,
           CASE WHEN p_size > 25 THEN 'L' ELSE 'S' END AS size_class
    FROM part
    """,
    doc="Scalar string/math function surface (all JVM built-ins, "
        "whole-stage-codegen friendly).",
)
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.length("p_name").alias("name_len"),
        # concat (NULL-propagating), not concat_ws (NULL-skipping): the
        # oracle's || yields NULL when either part is NULL, and so must
        # the engine (r9 review find — latent fn/oracle divergence).
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("brand_type"),
        F.floor("p_retailprice").alias("price_floor"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.when(F.col("p_size") > 25, "L").otherwise("S").alias("size_class"),
    )


@register(
    "scalar_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(day(o_orderdate) AS INT) AS order_day,
           CAST(date_trunc('month', o_orderdate) AS VARCHAR) AS month_start,
           datediff('day', DATE '2020-01-01', CAST(o_orderdate AS DATE)) AS days_since_2020
    FROM orders
    """,
    doc="Datetime function surface: extraction, truncation, date arithmetic.",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2020-01-01").cast("date"))
        .alias("days_since_2020"),
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    """,
    doc="JSON scalar extraction from the events props column.",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@register(
    "events_tumbling_window",
    oracle="""
    -- ts IS NOT NULL mirrors Spark's window(), which drops rows with
    -- no event time (they belong to no window)
    SELECT CAST(time_bucket(INTERVAL '10 minutes', ts) AS VARCHAR) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Tumbling event-time window aggregation (batch twin of the "
        "streaming pipeline in streaming/events.py).",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum(F.col("value"), "total_value", what="value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "dsl_fidelity_strings",
    oracle="""
    -- coalesce('') mirrors the engine's fidelity fill: getDisplayValues
    -- has no NULL, a blank cell displays as '' (main.gs:52).  The WHERE
    -- needs no coalesce: parseFloat('') is NaN and '' = 'R' is false in
    -- the engine, which a NULL comparison's not-kept outcome matches.
    SELECT coalesce(CAST(l_orderkey AS VARCHAR), '') AS OrderKey,
           coalesce(qty_s, '') AS Qty, coalesce(flag_s, '') AS Flag
    FROM (SELECT l_orderkey, CAST(l_quantity AS VARCHAR) AS qty_s,
                 l_returnflag AS flag_s
          FROM lineitem)
    WHERE try_cast(qty_s AS DOUBLE) >= 30 OR flag_s = 'R'
    """,
    doc="Fidelity-mode pipeline over an all-string source: display-string "
        "semantics end-to-end (parseFloat ordering via try_cast, string "
        "equality), mirroring the reference's getDisplayValues model "
        "(main.gs:52, SURVEY §1.2).",
)
def dsl_fidelity_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("l_orderkey"),
        F.col("l_quantity").cast("string").alias("qty_s"),
        F.col("l_returnflag").alias("flag_s"),
    )
    spec = parse_mapping(
        [
            ("_filter:f", 'eval: src[qty_s] >= 30 || src[flag_s] == "R"'),
            ("OrderKey", "src[l_orderkey]"),
            ("Qty", "src[qty_s]"),
            ("Flag", "src[flag_s]"),
        ],
        li.columns,
    )
    return run_mapping(li, spec, mode="fidelity")


@register(
    "agg_quantiles",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Exact continuous quantiles (sort-based within group). At scale "
        "prefer approx_percentile (t-digest sketch, registered rows-only "
        "in agg_approx_quantile); exact quantiles shuffle whole groups.",
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "agg_approx_quantile",
    oracle=None,  # sketch-based by design: rows-only check — but each row
    # embeds the exact quantiles and the relative sketch error, so the
    # driver row carries its own quality signal (the IVF-recall pattern).
    doc="approx_percentile: the one-pass fixed-memory quantile sketch for "
        "the 100 TB path.  Each row carries the exact percentile twin "
        "and the relative error for self-auditing output.",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("approx_percentile(o_totalprice, array(0.5, 0.9), 1000)")
            .alias("approx_p"),
            F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("exact_p"),
        )
        .select(
            "o_orderstatus",
            F.col("approx_p")[0].alias("p50"),
            F.col("approx_p")[1].alias("p90"),
            (F.abs(F.col("approx_p")[0] - F.col("exact_p")[0])
             / F.abs(F.col("exact_p")[0])).alias("p50_err_frac"),
            (F.abs(F.col("approx_p")[1] - F.col("exact_p")[1])
             / F.abs(F.col("exact_p")[1])).alias("p90_err_frac"),
        )
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           -- DECIMAL(19,2) on the product operands: DuckDB executes a
           -- product of two <=18-width decimals in int64 and OVERFLOWS
           -- at runtime on ~1e14 operands (r9 edge family 7 find);
           -- width 19 forces the exact hugeint path.  Same values —
           -- the engine's Spark side widens products automatically.
           CAST(sum(CAST(l_quantity AS DECIMAL(19,2))
                    * CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE)
               / count(*)
           - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              / count(*))
             * (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / count(*)) AS covar_qty_price
    -- complete pairs only (COVAR_POP pairwise semantics, r9 review
    -- find: a half-NULL row previously fed some sums but not others
    -- while count(*) kept it — the divisor class agg_linear_fit and
    -- agg_moments already handle)
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    GROUP BY l_returnflag
    """,
    doc="Exact population covariance per group from decimal power sums "
        "(Σxy, Σx, Σy) — one pass, associative combine, engine-"
        "reproducible to the bit (the builtin covar_pop uses Welford-"
        "style updates whose float order differs between engines; power "
        "sums in decimal sidestep that entirely, same trick as "
        "exact_moments).  Correlation = covar / (σx σy) divides two such "
        "exact quantities.",
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Complete pairs only (COVAR_POP pairwise semantics): the filter is
    # scan-pushed, the agg stays one map-side-combinable pass.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    x = finite_or_fail(F.col("l_quantity"), "l_quantity").cast("decimal(18,2)")
    y = finite_or_fail(F.col("l_extendedprice"), "l_extendedprice").cast(
        "decimal(18,2)")
    n = F.count("*")
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        (
            F.sum(x * y).cast("double") / n
            - (F.sum(x).cast("double") / n) * (F.sum(y).cast("double") / n)
        ).alias("covar_qty_price"),
    )


@register(
    "agg_linear_fit",
    oracle="""
    WITH p AS (
      -- the regression is over (x, y) PAIRS: a row missing either value
      -- contributes to no sum, so the divisor must not count it
      -- (regr_count semantics; the count(*) divisor was the same
      -- parity-blind class as agg_moments' r6 fix)
      -- DECIMAL(19,2): keeps the x*x / x*y products below on DuckDB's
      -- exact hugeint path — int64-backed (<=18-width) products overflow
      -- at runtime on ~1e14 operands (r9 edge family 7 find).  Same
      -- values, same scale; Spark widens its products automatically.
      SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(19,2)) AS x,
             CAST(l_extendedprice AS DECIMAL(19,2)) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             min(x) AS mnx, max(x) AS mxx
      FROM p GROUP BY l_returnflag
    ),
    -- A degenerate-x group (constant or single x — detected EXACTLY via
    -- min = max on the decimal values, r9 review find: testing the float
    -- variance against 0.0 misses ~1e-13 cancellation residue on
    -- non-dyadic constants and would emit garbage slopes) has no defined
    -- fit -> NULL slope/intercept; NULLIF stays as the belt against a
    -- residual exact-zero variance under ANSI division.
    f AS (
      SELECT l_returnflag, n, sx, sy,
             CASE WHEN mnx <> mxx THEN
               (sxy / n - (sx / n) * (sy / n))
                 / NULLIF(sxx / n - (sx / n) * (sx / n), 0)
             END AS slope
      FROM s
    )
    SELECT l_returnflag, n, slope,
           sy / n - slope * (sx / n) AS intercept
    FROM f
    """,
    doc="Per-group least-squares fit (extendedprice ~ quantity) from the "
        "same exact decimal power sums as agg_corr_covar: slope = "
        "covar/var, intercept = ybar - slope*xbar.  One pass, "
        "associative combine, bit-reproducible across engines because "
        "every float op happens in the same order on exact decimal "
        "sums — the builtin regr_slope's streaming update order is not.",
)
def agg_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair filter BEFORE the group (regr_count semantics): a row missing
    # either value is in no sum, so it must not inflate the divisor —
    # and a group with zero valid pairs has no fit row at all.  The
    # filter is scan-pushed, the agg stays one map-side-combinable pass.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    x = finite_or_fail(F.col("l_quantity"), "l_quantity").cast("decimal(18,2)")
    y = finite_or_fail(F.col("l_extendedprice"), "l_extendedprice").cast(
        "decimal(18,2)")
    n = F.count("*")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxx = F.sum(x * x).cast("double")
    sxy = F.sum(x * y).cast("double")
    var = sxx / n - (sx / n) * (sx / n)
    # Degenerate-x group (constant or single x): no defined fit -> NULL
    # slope/intercept.  Detected EXACTLY via min(x) = max(x) on the
    # decimals (r9 review find: `var != 0` on the float expression
    # misses ~1e-13 cancellation residue for non-dyadic constant x and
    # would emit a garbage slope); the var != 0 clause stays as the
    # belt against ANSI divide-by-zero on residual exact cancellation.
    slope = F.when(
        (F.min(x) != F.max(x)) & (var != 0),
        (sxy / n - (sx / n) * (sy / n)) / var,
    )
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        slope.alias("slope"),
        (sy / n - slope * (sx / n)).alias("intercept"),
    )


@register(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 -- NULLS LAST pinned (r9 review find)
                 ORDER BY o_totalprice NULLS LAST, o_orderkey NULLS LAST)
    """,
    doc="Distribution window functions (ntile / percent_rank / "
        "cume_dist) per status partition — the quantile-bucketing shape "
        "used for stratified reporting; unique tiebreaker keeps every "
        "rank deterministic. One shuffle on the partition key.",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # NULLS LAST pinned on BOTH order keys and both sides (r9 review
    # find): Spark defaults ASC NULLS FIRST, DuckDB NULLS LAST — an
    # unpinned NULL order date would shift every value in the
    # partition differently per engine.
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.asc_nulls_last("o_totalprice"), F.asc_nulls_last("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@register(
    "agg_moments",
    oracle="""
    WITH sums AS (
        SELECT l_returnflag,
               -- count(value), not count(*): NULLs vanish from the power
               -- sums, so the divisor must match (SQL AVG convention)
               count(CAST(l_quantity AS DECIMAL(18,2))) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS qty_n,
           sx / n AS qty_mean,
           greatest(sxx / n - (sx / n) * (sx / n), 0.0) AS qty_var,
           sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS qty_std
    FROM sums
    """,
    doc="Mean/variance/stddev from exact decimal power sums in one pass — "
        "algebraic aggregates that combine associatively across partitions "
        "(engine-reproducible: no float accumulation order anywhere).",
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import exact_moments

    li = load_table(spark, sf_dir, "lineitem")
    return exact_moments(li, ["l_returnflag"], "l_quantity", alias_prefix="qty")


@register(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot with an explicit value list (no value-discovery job); "
        "map-side combinable, one shuffle.",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import pivot_counts

    o = load_table(spark, sf_dir, "orders")
    return pivot_counts(o, row_key="o_orderpriority", pivot_key="o_orderstatus",
                        values=["F", "O", "P"])


@register(
    "sample_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    -- coalesce-to-sentinel mirrors _hash_bucket's NULL handling (keys
    -- here are non-null; the sentinel keeps the mirror verbatim)
    WHERE (CAST(('0x' || substr(md5(coalesce(CAST(o_orderkey AS VARCHAR),
                                              chr(0) || 'null' || chr(0))), 1, 8)) AS BIGINT) % 100) < 10
    """,
    doc="Deterministic hash-based 10% sample: reproducible across runs, "
        "engines and partition layouts (df.sample is not), and joinable "
        "across tables on the same key — the only sane sampling at 100 TB.",
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import hash_sample

    o = load_table(spark, sf_dir, "orders")
    return hash_sample(o, F.col("o_orderkey"), percent=10).select("o_orderkey", "o_totalprice")


@register(
    "sample_stratified",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
    WHERE (CAST(('0x' || substr(md5(coalesce(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR),
                                              chr(0) || 'null' || chr(0))), 1, 8)) AS BIGINT) % 100)
          < (CASE l_returnflag WHEN 'A' THEN 5 WHEN 'N' THEN 20 WHEN 'R' THEN 10 ELSE 0 END)
    """,
    doc="Deterministic stratified sampling: per-stratum rates (A 5% / N "
        "20% / R 10%) over a hash bucket — the exact, reproducible "
        "rebalancing primitive for dominant strata (language, domain) in "
        "a training-data pipeline. Single codegen'd filter, no shuffle, "
        "no RNG.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import stratified_hash_sample

    li = load_table(spark, sf_dir, "lineitem")
    return stratified_hash_sample(
        li,
        key=F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        stratum=F.col("l_returnflag"),
        rates={"A": 5, "N": 20, "R": 10},
    ).select("l_orderkey", "l_linenumber", "l_returnflag")


@register(
    "agg_histogram",
    oracle="""
    SELECT CASE WHEN l_extendedprice < 0 THEN 0
                WHEN l_extendedprice >= 110000 THEN 12
                ELSE CAST(floor(l_extendedprice / 10000) AS BIGINT) + 1 END AS bucket,
           count(*) AS n
    FROM lineitem GROUP BY 1
    """,
    doc="Equal-width histogram via width_bucket with literal bounds — "
        "data-profiling primitive; fixed bounds keep it one pass (a "
        "min/max-derived histogram needs two). Map-side combinable, one "
        "shuffle on <=13 keys.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.width_bucket("l_extendedprice", F.lit(0.0), F.lit(110000.0), F.lit(11))
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@register(
    "profile_columns",
    oracle="""
    -- + 0.0 on the extremes mirrors the engine (family 13): min/max
    -- over a set containing -0.0 keep the first-seen zero in BOTH
    -- engines (scan-order-dependent sign); the addition normalizes to
    -- +0.0 and is the identity on every other double.
    SELECT 'l_quantity' AS col,
           CAST(min(l_quantity) AS DOUBLE) + 0.0 AS mn,
           CAST(max(l_quantity) AS DOUBLE) + 0.0 AS mx,
           count(*) AS n_rows, count(l_quantity) AS n_non_null,
           count(DISTINCT l_quantity) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(min(l_discount) AS DOUBLE) + 0.0,
           CAST(max(l_discount) AS DOUBLE) + 0.0,
           count(*), count(l_discount), count(DISTINCT l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', CAST(min(l_tax) AS DOUBLE) + 0.0,
           CAST(max(l_tax) AS DOUBLE) + 0.0,
           count(*), count(l_tax), count(DISTINCT l_tax)
    FROM lineitem
    """,
    doc="Column profiling (min/max/null/distinct per column) — the "
        "pipeline-QA primitive; one aggregation per column over a single "
        "cached scan shape, exact distincts (HLL variant is "
        "agg_approx_distinct).",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def one(col: str) -> DataFrame:
        # + 0.0 on the double extremes (family 13): when the extremum
        # set contains -0.0, min/max keep the FIRST-SEEN zero — the
        # sign is partition-order-nondeterministic and engines disagree
        # on it while comparing equal under IEEE, so a raw min/max is
        # value-hash-unstable.  Adding +0.0 maps -0.0 to +0.0 and is
        # the identity on every other double; the oracle applies the
        # same normalization.
        return li.agg(
            F.lit(col).alias("col"),
            (F.min(col).cast("double") + 0.0).alias("mn"),
            (F.max(col).cast("double") + 0.0).alias("mx"),
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_non_null"),
            F.countDistinct(col).alias("n_distinct"),
        )

    return one("l_quantity").unionByName(one("l_discount")).unionByName(one("l_tax"))


@register(
    "profile_key_skew",
    oracle="""
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
    t AS (SELECT sum(cnt) AS tot, count(*) AS nkeys FROM c)
    SELECT c.user_id, c.cnt,
           c.cnt / t.tot AS share,
           c.cnt / (t.tot / t.nkeys) AS skew_vs_avg
    FROM c, t
    ORDER BY c.cnt DESC, c.user_id
    LIMIT 20
    """,
    doc="Join/group-key skew profiler: per-key counts with each key's "
        "share of total rows and its ratio to the mean key load — the "
        "pre-flight diagnostic that decides broadcast vs salt vs AQE "
        "skew-join before running a 100 TB join.  One map-side-combined "
        "shuffle on the key, a broadcast one-row total, and a "
        "TakeOrderedAndProject top-20; nothing scales with key "
        "cardinality on the driver.",
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("_tot"), F.count("*").alias("_nkeys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "user_id",
            "cnt",
            (F.col("cnt") / F.col("_tot")).alias("share"),
            (F.col("cnt") / (F.col("_tot") / F.col("_nkeys"))).alias("skew_vs_avg"),
        )
        .orderBy(F.desc("cnt"), "user_id")
        .limit(20)
    )


@register(
    "agg_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT tok FROM (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ) WHERE tok <> ''
    )
    SELECT tok, count(*) AS n
    FROM toks GROUP BY tok
    HAVING count(*) > (SELECT count(*) / 200.0 FROM toks)
    """,
    doc="Exact heavy hitters: non-empty tokens above a 1/200 corpus-"
        "frequency threshold (stopword discovery — the skewed domain "
        "where heavy hitters exist; TPC-H keys are uniform). Empty "
        "tokens (consecutive spaces, whitespace-only docs) are artifacts "
        "of the single-space split, not terms — they are excluded from "
        "both the counts and the threshold divisor (r9 oracle-blind "
        "review, deferred to r10). Two-phase hash agg + a broadcast "
        "one-row scalar threshold; at 100 TB the sketch alternative "
        "(count-min / approx_top_k) trades exactness for fixed memory "
        "when token cardinality explodes.",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    total = toks.select((F.count("*") / 200.0).alias("_thr"))
    return (
        toks.groupBy("tok").agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.col("_thr"))
        .select("tok", "n")
    )


@register(
    "agg_heavy_hitters_approx",
    oracle=None,  # sketch output is approximate by design; pytest pins
    # the sketch top-k against the exact two-phase agg
    # (tests/test_ext_operators.py::test_heavy_hitters_sketch_vs_exact),
    # and each output row embeds exact_n + err_frac computed in-query
    # against the exact counts, so the rows-only driver row carries its
    # own quality signal (the IVF-recall pattern).
    doc="Sketch-based heavy hitters: approx_top_k (Spark 4's bounded-"
        "memory frequent-items aggregate) over the token stream — the "
        "100 TB alternative to agg_heavy_hitters' exact two-phase agg. "
        "The exact plan's state is one counter per distinct token; when "
        "token cardinality explodes (raw web text, no normalization), "
        "the sketch caps state at maxItemsTracked per partition, stays "
        "map-side combinable, and returns the top-k with approximate "
        "counts. Single pass, no shuffle of the token stream — only the "
        "constant-size sketch merges.  Each row carries the exact count "
        "and the relative sketch error for self-auditing output.",
)
def agg_heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Same non-empty-token domain as the exact twin (r10): the sketch
    # and the exact counts it self-audits against must count the same
    # stream.
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    approx = (
        toks.select(F.expr("approx_top_k(tok, 32, 65536)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("tok"), F.col("e.count").alias("n_approx"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    return (
        approx.join(exact, "tok", "left")
        .withColumn(
            "err_frac",
            F.abs(F.col("n_approx") - F.col("exact_n"))
            / F.greatest(F.col("exact_n"), F.lit(1)),
        )
        .orderBy(F.desc("n_approx"), F.asc("tok"))
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT s_name,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
    doc="Skew-salted join, oracle-checked against the plain join: the "
        "skewed fact side gets a salt in [0,16), the small side is "
        "replicated per salt, and the (key, salt) join spreads each hot "
        "key over 16 partitions. Results must be identical to the "
        "unsalted join — salting changes the shuffle layout, never the "
        "answer.",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), "l_quantity")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"), "s_name")
    joined = salted_join(li, sup, key="k", salt=16)
    return joined.groupBy("s_name").agg(
        F.count("*").alias("n_lines"),
        F.sum(finite_or_fail(F.col("l_quantity"), "l_quantity")
              .cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "etl_upsert",
    oracle="""
    WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
    u AS (SELECT c_custkey, upper(c_name) AS c_name, c_acctbal + 100 AS c_acctbal
          FROM customer WHERE c_custkey % 10 = 0)
    SELECT * FROM u
    UNION ALL
    SELECT t.* FROM t
    WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.c_custkey = t.c_custkey)
    """,
    doc="Key-based upsert (MERGE without a table format): updates win, "
        "unmatched target rows survive. Anti-join formulation — only the "
        "update batch's keys probe the target, so a small batch "
        "broadcasts and the big side never shuffles.",
)
def etl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import upsert

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.upper("c_name").alias("c_name"),
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
        )
    )
    return upsert(c, updates, "c_custkey")


@register(
    "etl_scd2",
    oracle="""
    WITH dim AS (
        SELECT c_custkey AS k, c_mktsegment AS seg,
               DATE '2020-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM customer
    ),
    chg AS (
        SELECT c_custkey AS k, 'MOVED' AS seg, DATE '2024-06-01' AS eff
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        -- +2e12, not +2e6 (r9 review find): a small offset collides with
        -- real custkeys once SF >= ~13 (max custkey ~ 150k*SF), silently
        -- corrupting the per-key semantics; 2e12 is beyond any custkey
        -- this engine would meet at 100 TB
        SELECT c_custkey + 2000000000000, 'NEW', DATE '2024-06-01'
        FROM customer WHERE c_custkey % 211 = 0
    ),
    changed AS (
        SELECT d.k FROM dim d JOIN chg u USING (k)
        WHERE d.seg IS DISTINCT FROM u.seg
    ),
    closed AS (
        SELECT d.k, d.seg, d.valid_from, u.eff AS valid_to, FALSE AS is_current
        FROM dim d JOIN chg u USING (k) WHERE d.seg IS DISTINCT FROM u.seg
    ),
    kept AS (SELECT d.* FROM dim d
             WHERE NOT EXISTS (SELECT 1 FROM changed c WHERE c.k = d.k)),
    new_rows AS (
        SELECT u.k, u.seg, u.eff AS valid_from,
               CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM chg u LEFT JOIN dim d USING (k)
        WHERE d.k IS NULL OR d.seg IS DISTINCT FROM u.seg
    ),
    unioned AS (
        SELECT * FROM closed UNION ALL SELECT * FROM kept
        UNION ALL SELECT * FROM new_rows
    )
    SELECT k, seg, CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(valid_to AS VARCHAR) AS valid_to, is_current
    FROM unioned
    """,
    doc="SCD type-2 dimension maintenance: changed keys close their "
        "current version and open a new one, unknown keys insert a first "
        "version, identical attributes are a no-op, history passes "
        "through untouched. One key join + one anti-join; the change "
        "batch broadcasts, the dimension's history never shuffles.",
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import scd2_apply

    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.lit("MOVED").alias("seg"),
            F.lit("2024-06-01").cast("date").alias("eff"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 211 == 0).select(
                (F.col("c_custkey") + 2000000000000).alias("k"),
                F.lit("NEW").alias("seg"),
                F.lit("2024-06-01").cast("date").alias("eff"),
            )
        )
    )
    out = scd2_apply(dim, changes, "k", ["seg"], effective_col="eff")
    return out.select(
        "k", "seg",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


@register(
    "etl_snapshot_diff",
    oracle="""
    WITH o AS (SELECT c_custkey, c_acctbal FROM customer),
    n AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 97 <> 0
        UNION ALL
        -- +1e12, not +1e6: same collision hazard as etl_scd2 (r9 review)
        SELECT c_custkey + 1000000000000, c_acctbal FROM customer
        WHERE c_custkey % 139 = 0
    )
    SELECT c_custkey, 'added' AS change_type FROM n
    WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.c_custkey = n.c_custkey)
    UNION ALL
    SELECT c_custkey, 'removed' AS change_type FROM o
    WHERE NOT EXISTS (SELECT 1 FROM n WHERE n.c_custkey = o.c_custkey)
    UNION ALL
    SELECT o.c_custkey, 'changed' AS change_type
    FROM o JOIN n USING (c_custkey)
    WHERE o.c_acctbal IS DISTINCT FROM n.c_acctbal
    """,
    doc="Change-data capture between two snapshots: added/removed/changed "
        "per key via two anti-joins plus a null-safe compare join — the "
        "incremental-pipeline primitive (diff then upsert instead of "
        "reprocessing the unchanged bulk).",
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import snapshot_diff

    old = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    base = load_table(spark, sf_dir, "customer")
    new = (
        base.filter(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + 50)
            .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        )
        .unionByName(
            base.filter(F.col("c_custkey") % 139 == 0)
            .select((F.col("c_custkey") + 1000000000000).alias("c_custkey"), "c_acctbal")
        )
    )
    return snapshot_diff(old, new, "c_custkey", ["c_acctbal"])


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS purchase_ts,
           CAST(l.ts AS VARCHAR) AS last_login_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'login') l
      ON p.user_id = l.user_id AND p.ts >= l.ts
    """,
    doc="As-of join (each purchase -> user's latest login at-or-before "
        "it) via the union-and-window trick: ONE shuffle on the by-key, "
        "no range cross join. Oracle uses DuckDB's native ASOF JOIN.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    logins = ev.filter(F.col("event_type") == "login").select("user_id", "ts")
    out = asof_join(
        purchases, logins, on="ts", by="user_id", right_cols={"ts": "last_login_ts"}
    )
    return out.select(
        "event_id", "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        F.col("last_login_ts").cast("string").alias("last_login_ts"),
    )


@register(
    "dsl_v2_join_agg",
    oracle="""
    SELECT r_name, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           count(DISTINCT c_nationkey) AS n_nations
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_acctbal > 0
    GROUP BY r_name
    """,
    doc="Map-DSL v2 (plans/extensions.py): _join:/_group:/agg: rule kinds "
        "— the reference's roadmap 'Multi-sheet joins' (README.md:122) in "
        "its own rule idiom, compiled to broadcast joins + hash agg.",
)
def dsl_v2_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.plans.extensions import run_mapping_v2

    tables = {
        "src": load_table(spark, sf_dir, "customer"),
        "nation": load_table(spark, sf_dir, "nation"),
        "region": load_table(spark, sf_dir, "region"),
    }
    return run_mapping_v2(
        tables,
        [
            ("// star join over the customer dims", ""),
            ("_join:nation", "on: src[c_nationkey] == nation[n_nationkey] how: inner broadcast"),
            ("_join:region", "on: src[n_regionkey] == region[r_regionkey] how: inner broadcast"),
            ("_filter:pos", "eval: src[c_acctbal] > 0"),
            ("_group:g", "by: src[r_name]"),
            ("n_customers", "agg:count"),
            ("total_bal", "agg:sumd:src[c_acctbal]"),
            ("n_nations", "agg:countd:src[c_nationkey]"),
        ],
    )


@register(
    "dsl_v2_and_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE ((l_quantity >= 45 AND l_returnflag = 'A')
       OR (l_discount <= 0.01 AND l_tax >= 0.07))
      AND ((l_linestatus = 'F' OR l_tax >= 0.05) AND l_quantity >= 2)
    """,
    doc="Map-DSL v2 'Advanced expression parser' (reference roadmap "
        "README.md:121), both constructs the v1 grammar excludes "
        "(docs/expression-language.md:170-176): rule f1 uses bare && "
        "binding tighter than || (JS precedence); rule f2 uses "
        "parenthesized grouping overriding that precedence; AND across "
        "rules as in v1.  Everything folds into one Catalyst predicate "
        "in the scan stage, so pushdown/codegen are identical to the v1 "
        "grammar (plans/parser.py:parse_filter_expression_v2).",
)
def dsl_v2_and_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.plans.extensions import run_mapping_v2

    return run_mapping_v2(
        {"src": load_table(spark, sf_dir, "lineitem")},
        [
            ("// big A-flag lines, or near-free high-tax lines", ""),
            ("_filter:f1",
             'eval: src[l_quantity] >= 45 && src[l_returnflag] == "A" '
             '|| src[l_discount] <= 0.01 && src[l_tax] >= 0.07'),
            ("// ...that are finished-or-taxed AND non-trivial (parens "
             "regroup what JS precedence would split)", ""),
            ("_filter:f2",
             'eval: (src[l_linestatus] == "F" || src[l_tax] >= 0.05) '
             "&& src[l_quantity] >= 2"),
            ("l_orderkey", "src[l_orderkey]"),
            ("l_linenumber", "src[l_linenumber]"),
            ("l_quantity", "src[l_quantity]"),
            ("l_returnflag", "src[l_returnflag]"),
        ],
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (distinct from rollup/cube lattices).",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "set_except_all",
    oracle="""
    SELECT l_orderkey AS k FROM lineitem
    EXCEPT ALL
    SELECT o_orderkey AS k FROM orders
    """,
    doc="Multiset difference (EXCEPT ALL — multiplicity-aware, vs the "
        "distinct EXCEPT in set_except).",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return li.exceptAll(o)


@register(
    "dsl_v2_having_topn",
    oracle="""
    SELECT n_name, count(*) AS n_customers, max(c_acctbal) AS max_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    HAVING count(*) >= 3
    ORDER BY n_customers DESC, n_name
    LIMIT 5
    """,
    doc="Map-DSL v2 _having/_sort/_limit: post-agg filter + deterministic "
        "top-N (plans as TakeOrderedAndProject, never a global sort).",
)
def dsl_v2_having_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.plans.extensions import run_mapping_v2

    tables = {
        "src": load_table(spark, sf_dir, "customer"),
        "nation": load_table(spark, sf_dir, "nation"),
    }
    return run_mapping_v2(
        tables,
        [
            ("_join:nation", "on: src[c_nationkey] == nation[n_nationkey] how: inner broadcast"),
            ("_group:g", "by: src[n_name]"),
            ("n_customers", "agg:count"),
            ("max_bal", "agg:max:src[c_acctbal]"),
            ("_having:min3", "eval: src[n_customers] >= 3"),
            ("_sort:s", "by: src[n_customers] desc, src[n_name]"),
            ("_limit:top", "5"),
        ],
    )


@register(
    "dsl_v2_distinct",
    oracle="""
    SELECT DISTINCT c_mktsegment AS Segment,
           CAST(c_nationkey AS BIGINT) AS NationKey
    FROM customer
    WHERE c_acctbal > 0
    """,
    doc="Map-DSL v2 _distinct: full-row DISTINCT over the projected "
        "output (filter -> project -> dropDuplicates; plans as a "
        "map-side-combinable hash agg).  Only the full-row form exists — "
        "subset-distinct keeps an arbitrary survivor and is "
        "nondeterministic on both engines.",
)
def dsl_v2_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.plans.extensions import run_mapping_v2

    tables = {"src": load_table(spark, sf_dir, "customer")}
    return run_mapping_v2(
        tables,
        [
            ("_filter:pos", "eval: src[c_acctbal] > 0"),
            ("Segment", "src[c_mktsegment]"),
            ("NationKey", "src[c_nationkey]"),
            ("_distinct:d", ""),
        ],
    )


@register(
    "join_range_window",
    oracle="""
    SELECT p.event_id, p.user_id, count(e.ts) AS n_recent_errors
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts >= p.ts - INTERVAL '10 minutes'
     AND e.ts < p.ts
    GROUP BY 1, 2
    """,
    doc="Range (interval) join: errors by the same user in the 10 minutes "
        "before each purchase. The equi-key (user_id) carries the shuffle; "
        "the range predicate filters within each key group — at 100 TB "
        "bucket both sides by (user, time-bucket) so the range probe stays "
        "partition-local.",
)
def join_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    return (
        p.join(
            e,
            (F.col("user_id") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("e_ts") < F.col("ts")),
            "left",
        )
        .groupBy("event_id", "user_id")
        .agg(F.count("e_ts").alias("n_recent_errors"))
    )


@register(
    "reshape_unpivot",
    oracle="""
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    """,
    doc="Unpivot/melt (wide->long): each measure column becomes a "
        "(metric, value) row — per-row expansion, no shuffle.  NULL "
        "measures are KEPT as (metric, NULL) rows (r10 review pass 4, "
        "verified empirically): the DataFrame unpivot API emits them "
        "and the UNION ALL oracle matches, i.e. melt semantics — note "
        "SQL's UNPIVOT clause would EXCLUDE them by default.",
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retailprice", "size"], "metric", "value")


@register(
    "window_first_last",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order,
           count(*) OVER w AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 -- NULLS LAST pinned (r9 review find)
                 ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value / last_value over an unbounded frame (per-customer "
        "first and latest order).",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # NULLS LAST pinned on BOTH order keys and both sides (r9 review
    # find): Spark defaults ASC NULLS FIRST, DuckDB NULLS LAST — an
    # unpinned NULL order date would shift every value in the
    # partition differently per engine.
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), F.asc_nulls_last("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.count("*").over(w).alias("n_orders"),
    ).distinct()


def get(name: str) -> RegisteredQuery:
    return REGISTRY[name]


# The correctness check verifies the first DRIVER_CHECK_BUDGET entries of
# ``queries()`` against the DuckDB oracles each round; the rest ride on
# their last green check row.  ``checkwindow`` derives that order from
# query fingerprints and verified.json (written by
# scripts/update_verified.py), so every query changed since its green
# row sits inside the budget.
DRIVER_CHECK_BUDGET = 50
_VERIFIED = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "verified.json")


@functools.cache
def _check_order() -> tuple[str, ...]:
    with open(_VERIFIED) as f:
        verified = json.load(f)
    current = {n: checkwindow.fingerprint(rq.fn, rq.oracle) for n, rq in REGISTRY.items()}
    return tuple(checkwindow.check_order(current, verified, DRIVER_CHECK_BUDGET))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _check_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _check_order()
        if REGISTRY[name].oracle is not None
    }


# Import-time side effect: [EXT] queries register themselves (placed at the
# bottom so ext_queries can import `register` from this module).
from spreadsheet_etl_engine_spark import ext_queries as _ext_queries  # noqa: E402,F401
