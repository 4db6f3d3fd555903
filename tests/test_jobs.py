"""End-to-end job runner tests (the reference runMapping lifecycle)."""

from __future__ import annotations

import pytest

from spreadsheet_etl_engine_spark.errors import MissingSheetError
from spreadsheet_etl_engine_spark.jobs import run_job

MAP_TABLE = [
    ["Rule", "Instruction"],
    ["_filter:big", "eval: src[l_quantity] >= 30"],
    ["OrderKey", "src[l_orderkey]"],
    ["Gross", "formula:=src[l_extendedprice]*(1-src[l_discount])"],
]


def test_run_job_parquet_roundtrip(spark, sf_dir, tmp_path):
    out_path = str(tmp_path / "job_out")
    result = run_job(
        spark,
        config={"source": f"{sf_dir}/lineitem.parquet", "output": out_path},
        map_table=MAP_TABLE,
    )
    assert result.rows_written > 0
    back = spark.read.parquet(out_path)
    assert back.columns == ["OrderKey", "Gross"]
    assert back.count() == result.rows_written


def test_run_job_source_df_no_write(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    result = run_job(spark, map_table=MAP_TABLE, source_df=li, write=False)
    assert result.rows_written == li.filter("l_quantity >= 30").count()


def test_run_job_temp_view_source(spark, sf_dir, tmp_path):
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("li_view")
    result = run_job(
        spark,
        config={"source": "li_view", "output": str(tmp_path / "o")},
        map_table=MAP_TABLE,
        write=False,
    )
    assert result.rows_written > 0


def test_run_job_bare_directory_sniff_via_hadoop_fs(spark, sf_dir, tmp_path):
    """r10 verdict stretch 8: the bare-directory format sniff now lists
    through the Hadoop FS, so a scheme-qualified directory (file: here —
    the same code path hdfs:// and s3a:// take) sniffs its parquet part
    files instead of falling through to tableExists and raising
    MissingSheetError for a directory that exists.  The old os.listdir
    sniff could not see scheme-qualified paths at all."""
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(50)
    bare = tmp_path / "bare_parquet_dir"
    src.write.parquet(str(bare))
    for path in (str(bare), f"file:{bare}"):      # plain and scheme-qualified
        result = run_job(
            spark,
            config={"source": path, "output": str(tmp_path / "o")},
            map_table=MAP_TABLE,
            write=False,
        )
        assert result.rows_written > 0
    # a bare directory of csv part files routes to the csv reader
    csv_dir = tmp_path / "bare_csv_dir"
    src.select("l_orderkey", "l_quantity", "l_extendedprice",
               "l_discount", "l_returnflag").write.option(
        "header", True).csv(str(csv_dir))
    result = run_job(
        spark,
        config={"source": f"file:{csv_dir}", "output": str(tmp_path / "o2")},
        map_table=MAP_TABLE,
        write=False,
    )
    assert result.rows_written > 0


def test_run_job_missing_source(spark, tmp_path):
    with pytest.raises(MissingSheetError):
        run_job(
            spark,
            config={"source": "no_such_table", "output": str(tmp_path / "o")},
            map_table=MAP_TABLE,
            write=False,
        )


def test_run_job_map_table_from_storage(spark, sf_dir, tmp_path):
    """The reference's three-sheet model with every 'sheet' a stored
    table: Dashboard config + Map rules + Source all resolved by path."""
    map_path = str(tmp_path / "map_table")
    spark.createDataFrame(
        [("_filter:big", "eval: src[l_quantity] >= 30"),
         ("OrderKey", "src[l_orderkey]"),
         ("Qty", "src[l_quantity]")],
        ["rule", "instruction"],
    ).coalesce(1).write.mode("overwrite").option("header", "true").csv(map_path)

    result = run_job(
        spark,
        config={"source": f"{sf_dir}/lineitem.parquet", "map": map_path,
                "output": str(tmp_path / "out")},
        map_table=None,
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert result.rows_written == li.filter("l_quantity >= 30").count()
    assert spark.read.parquet(str(tmp_path / "out")).columns == ["OrderKey", "Qty"]


def _demo_workbook(path):
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    xlsx_native.write_workbook_multi(path, [
        ("Dashboard", ["Key", "Value"],
         [("source", "Data"), ("map", "Rules"), ("output", "Result")]),
        ("Rules", ["Rule", "Instruction"],
         [("_filter:act", 'eval: src[Status] == "active" || src[Score] >= 90'),
          ("Who", "src[Name]"),
          ("Tag", "constant:ok"),
          ("Double", "formula:=src[Score]*2")]),
        ("Data", ["Name", "Score", "Status"],
         [("Ana", 85, "active"),
          ("Bob", 95, "inactive"),
          ("Cyd", 10, "paused"),
          ("Dot", 90, "")]),
    ])


def test_run_workbook_end_to_end(spark, tmp_path):
    """The reference's whole lifecycle on one workbook: Dashboard config
    (remapped sheet names), Map rules, Data sheet -> Output sheet written
    back next to the untouched input sheets."""
    from spreadsheet_etl_engine_spark.jobs import run_workbook
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    src = str(tmp_path / "in.xlsx")
    dst = str(tmp_path / "out.xlsx")
    _demo_workbook(src)
    result = run_workbook(spark, src, dst)
    assert result.rows_written == 3  # Ana (active), Bob (95>=90), Dot (90>=90)
    assert result.config.output == "Result"
    assert xlsx_native.sheet_names(dst) == ["Dashboard", "Rules", "Data", "Result"]
    header, rows, _ = xlsx_native.read_workbook(dst, sheet_name="Result")
    assert header == ["Who", "Tag", "Double"]
    got = {tuple(r) for r in rows}
    # Fidelity mode: strings in, strings out; parseFloat handles ">= 90".
    assert got == {("Ana", "ok", "170.0"), ("Bob", "ok", "190.0"),
                   ("Dot", "ok", "180.0")}
    # Untouched sheets survive the rewrite, numbers still numbers.
    d_header, d_rows, d_flags = xlsx_native.read_workbook(dst, sheet_name="Data")
    assert d_header == ["Name", "Score", "Status"]
    assert d_rows[0] == ["Ana", "85", "active"] and d_flags[0][1] is True


def test_run_workbook_passthrough_formulas(spark, tmp_path):
    """passthrough=True defers FORMULA evaluation: the output sheet gets
    live formula cells (src[] values spliced, self[] as A1 addresses over
    surviving rows) exactly like the reference's setValues output."""
    from spreadsheet_etl_engine_spark.jobs import run_workbook
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    src = str(tmp_path / "in.xlsx")
    dst = str(tmp_path / "out.xlsx")
    xlsx_native.write_workbook_multi(src, [
        ("Map", ["Rule", "Instruction"],
         [("_filter:f", "eval: src[V] >= 2"),
          ("Base", "src[V]"),
          ("Calc", "formula:=self[Base]*3")]),
        ("Source", ["V"], [("1",), ("2",), ("3",)]),
    ])
    run_workbook(spark, src, dst, passthrough=True)
    header, rows, _ = xlsx_native.read_workbook(dst, sheet_name="Output")
    assert header == ["Base", "Calc"]
    # Rows 2,3 survive; self[Base] -> column A of the SURVIVING row.
    assert rows == [["2", "=A2*3"], ["3", "=A3*3"]]


def test_run_workbook_missing_sheet(spark, tmp_path):
    from spreadsheet_etl_engine_spark.jobs import run_workbook
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    src = str(tmp_path / "in.xlsx")
    xlsx_native.write_workbook_multi(src, [("Source", ["x"], [("1",)])])
    with pytest.raises(MissingSheetError, match="Map"):
        run_workbook(spark, src, str(tmp_path / "out.xlsx"))


def test_run_job_orc_source_and_sink(spark, tmp_path):
    from spreadsheet_etl_engine_spark.jobs import run_job
    from spreadsheet_etl_engine_spark.sources.writers import write_orc

    src_path = str(tmp_path / "src.orc")
    out_path = str(tmp_path / "out.orc")
    write_orc(
        spark.createDataFrame(
            [(1, 10.0), (2, 40.0), (3, 25.0)], "k long, v double"
        ),
        src_path,
    )
    result = run_job(
        spark,
        config={"source": src_path, "output": out_path},
        map_table=[
            ["Rule", "Instruction"],
            ["_filter:big", "eval: src[v] >= 20"],
            ["K", "src[k]"],
            ["Double", "formula:=src[v]*2"],
        ],
    )
    assert result.rows_written == 2
    back = spark.read.orc(out_path)
    assert {tuple(r) for r in back.collect()} == {(2, 80.0), (3, 50.0)}


def test_run_job_type_validation_fail_gates_the_sink(spark, sf_dir, tmp_path):
    """Roadmap 'Type validation' (reference README.md:123): on_violation=
    'fail' raises BEFORE the sink writes, so nothing bad lands."""
    import os

    from spreadsheet_etl_engine_spark.errors import EngineError
    from spreadsheet_etl_engine_spark.operators.quality import in_range, not_null

    out_path = str(tmp_path / "gated")
    with pytest.raises(EngineError, match="gross_small.*violations"):
        run_job(
            spark,
            config={"source": f"{sf_dir}/lineitem.parquet", "output": out_path},
            map_table=MAP_TABLE,
            constraints=[not_null("ok_key", "OrderKey"),
                         in_range("gross_small", "Gross", 0.0, 10.0)],
        )
    assert not os.path.exists(out_path)  # the gate ran before the write

    # Satisfiable constraints: the job completes and writes.
    result = run_job(
        spark,
        config={"source": f"{sf_dir}/lineitem.parquet", "output": out_path},
        map_table=MAP_TABLE,
        constraints=[not_null("ok_key", "OrderKey")],
    )
    assert result.rows_written > 0 and result.violations is None


def test_run_job_report_mode_observes_the_write_pass(spark, sf_dir, tmp_path):
    """on_violation='report': row-local counters ride the write action via
    DataFrame.observe (zero extra scans); unique gets its own keyed agg."""
    from spreadsheet_etl_engine_spark.operators.quality import (
        in_range, not_null, unique)

    out_path = str(tmp_path / "reported")
    result = run_job(
        spark,
        config={"source": f"{sf_dir}/lineitem.parquet", "output": out_path},
        map_table=MAP_TABLE,
        constraints=[not_null("ok_key", "OrderKey"),
                     in_range("gross_small", "Gross", 0.0, 10.0),
                     unique("key_unique", "OrderKey")],
        on_violation="report",
    )
    # Every row violates gross_small (gross prices are ~1e4), none miss keys,
    # and orders repeat across lineitems.
    assert result.violations["ok_key"] == 0
    assert result.violations["gross_small"] == result.rows_written
    assert result.violations["key_unique"] > 0
    assert spark.read.parquet(out_path).count() == result.rows_written

    from spreadsheet_etl_engine_spark.errors import EngineError
    with pytest.raises(EngineError, match="on_violation"):
        run_job(
            spark,
            config={"source": f"{sf_dir}/lineitem.parquet",
                    "output": str(tmp_path / "x")},
            map_table=MAP_TABLE,
            constraints=[not_null("k", "OrderKey")],
            on_violation="explode",
        )


def test_run_job_execution_history(spark, sf_dir, tmp_path):
    """Roadmap 'Execution history' / 'Logging dashboard': one appended
    parquet row per run — ok and error — readable via read_history."""
    from spreadsheet_etl_engine_spark.jobs import read_history

    hist = str(tmp_path / "history")
    out_path = str(tmp_path / "out")
    r1 = run_job(
        spark,
        config={"source": f"{sf_dir}/lineitem.parquet", "output": out_path},
        map_table=MAP_TABLE,
        history_path=hist,
    )
    with pytest.raises(MissingSheetError):
        run_job(
            spark,
            config={"source": "no_such_table", "output": out_path},
            map_table=MAP_TABLE,
            history_path=hist,
        )
    rows = read_history(spark, hist).collect()
    assert len(rows) == 2
    by_status = {r["status"]: r for r in rows}
    ok, err = by_status["ok"], by_status["error"]
    assert ok["rows_written"] == r1.rows_written
    assert ok["error"] is None and ok["duration_s"] >= 0
    assert err["rows_written"] is None
    assert "MissingSheetError" in err["error"]
    assert err["source"] == "no_such_table"


def test_run_job_report_mode_on_empty_output(spark, sf_dir, tmp_path):
    """Zero-row output (a filter matching nothing) must report zero
    violations for every constraint kind — the empty-input class the
    quality operator hardened against, exercised through the observe
    path and the unique keyed-agg path."""
    from spreadsheet_etl_engine_spark.operators.quality import (
        in_range, not_null, unique)

    empty_map = [
        ["Rule", "Instruction"],
        ["_filter:none", "eval: src[l_quantity] >= 999999"],
        ["OrderKey", "src[l_orderkey]"],
    ]
    result = run_job(
        spark,
        config={"source": f"{sf_dir}/lineitem.parquet",
                "output": str(tmp_path / "empty_out")},
        map_table=empty_map,
        constraints=[not_null("k", "OrderKey"),
                     in_range("r", "OrderKey", 0, 1),
                     unique("u", "OrderKey")],
        on_violation="report",
    )
    assert result.rows_written == 0
    assert result.violations == {"k": 0, "r": 0, "u": 0}
    # fail mode on an empty output: clean pass, output written.
    result2 = run_job(
        spark,
        config={"source": f"{sf_dir}/lineitem.parquet",
                "output": str(tmp_path / "empty_out2")},
        map_table=empty_map,
        constraints=[not_null("k", "OrderKey")],
        on_violation="fail",
    )
    assert result2.rows_written == 0


def test_run_job_rejects_duplicate_constraint_names_in_report_mode(spark, sf_dir, tmp_path):
    """Report mode must apply the same declaration-time validation as
    fail mode — two same-named constraints would silently collapse into
    one observe metric otherwise."""
    from spreadsheet_etl_engine_spark.errors import EngineError
    from spreadsheet_etl_engine_spark.operators.quality import in_range, not_null

    with pytest.raises(EngineError, match="duplicate constraint names"):
        run_job(
            spark,
            config={"source": f"{sf_dir}/lineitem.parquet",
                    "output": str(tmp_path / "o")},
            map_table=MAP_TABLE,
            constraints=[in_range("c", "OrderKey", 0, 1),
                         not_null("c", "Gross")],
            on_violation="report",
            write=False,
        )


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, Spark jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_job_runs_no_job_after_the_write(spark, sf_dir, tmp_path):
    """The row count and the report-mode counters ride the write itself:
    run_job runs exactly the write's jobs.  A unique constraint adds only
    its keyed aggregation over the written files, read with the known
    schema (no schema-inference job)."""
    from spreadsheet_etl_engine_spark.operators.quality import (
        check_constraints, in_range, not_null, unique)
    from spreadsheet_etl_engine_spark.plans.parser import parse_map_table
    from spreadsheet_etl_engine_spark.plans.runner import run_mapping
    from spreadsheet_etl_engine_spark.sources.writers import write_parquet

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = parse_map_table(MAP_TABLE, li.columns)
    plain = str(tmp_path / "plain")
    _, n_write = _jobs_in_group(
        spark, "plain-write", lambda: write_parquet(run_mapping(li, spec), plain))

    row_local = [not_null("ok_key", "OrderKey"), in_range("g", "Gross", 0.0, 10.0)]
    result, n_job = _jobs_in_group(spark, "report-job", lambda: run_job(
        spark, config={"output": str(tmp_path / "o1")}, map_table=MAP_TABLE,
        source_df=li, constraints=row_local, on_violation="report"))
    assert result.violations == {"ok_key": 0, "g": result.rows_written}
    assert n_job == n_write

    keyed = [unique("key_unique", "OrderKey")]
    out2 = str(tmp_path / "o2")
    result, n_unique = _jobs_in_group(spark, "unique-job", lambda: run_job(
        spark, config={"output": out2}, map_table=MAP_TABLE,
        source_df=li, constraints=row_local + keyed, on_violation="report"))
    assert result.violations["key_unique"] > 0
    _, n_agg = _jobs_in_group(spark, "unique-agg", lambda: check_constraints(
        spark.read.schema(result.output.schema).parquet(out2), keyed).collect())
    assert n_unique == n_write + n_agg


def test_run_job_rows_written_for_every_sink(spark, tmp_path):
    """rows_written is the logical row count for parquet, ORC and CSV
    alike — a CSV value with an embedded newline is one row, not two."""
    src = spark.createDataFrame(
        [(1, "one\nline"), (2, "plain"), (3, 'crlf "q"\r\nend'), (4, "x")],
        "k long, v string")
    map_table = [["Rule", "Instruction"], ["_filter:f", "eval: src[k] >= 2"],
                 ["K", "src[k]"], ["V", "src[v]"]]
    written = {
        ext: run_job(spark, config={"output": str(tmp_path / f"out.{ext}")},
                     map_table=map_table, source_df=src).rows_written
        for ext in ("parquet", "orc", "csv")
    }
    assert written == {"parquet": 3, "orc": 3, "csv": 3}


def test_run_workbook_parses_each_sheet_once(spark, tmp_path, monkeypatch):
    from collections import Counter

    from spreadsheet_etl_engine_spark.jobs import run_workbook
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    src = str(tmp_path / "in.xlsx")
    _demo_workbook(src)
    parsed: Counter = Counter()
    real = xlsx_native.read_workbook

    def counting(path, *, sheet_name=0):
        parsed[sheet_name] += 1
        return real(path, sheet_name=sheet_name)

    monkeypatch.setattr(xlsx_native, "read_workbook", counting)
    result = run_workbook(spark, src, str(tmp_path / "out.xlsx"))
    assert result.rows_written == 3
    assert parsed == {"Dashboard": 1, "Rules": 1, "Data": 1}
