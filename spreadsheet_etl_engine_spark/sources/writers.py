"""Sinks.  The reference's only sink overwrites a sheet wholesale
(``main.gs:124-129``); here: parquet/CSV/ORC (plus bucketed tables)
natively, xlsx via the stdlib-native OOXML codec with optional FORMULA
pass-through.

Pass-through mode is where the reference's two deferred-evaluation quirks
live (SURVEY §7.4 items 1-3): ``formula:`` output columns keep their
*text* (with ``src[...]`` values spliced in, non-numeric values quoted,
``main.gs:86-98``), and ``self[Col]`` resolves to the A1 *address* of the
referenced output cell in the same row (``main.gs:100-114``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.plans.parser import (
    SELF_REF_RE, SRC_REF_RE, ColumnKind, MappingSpec,
)
from spreadsheet_etl_engine_spark.sources.xlsx_native import column_letter


def write_parquet(df: DataFrame, path: str, *, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """RFC4180 CSV writer: embedded separators/quotes/newlines are
    quoted, a quote inside a value is doubled (``escape='"'``, which
    ``read_csv`` matches), and leading/trailing whitespace is PRESERVED
    — Spark's writer strips it by default (ignore*WhiteSpace default
    true on write, unlike read), which silently mangled padded values
    (r9 edge-family-10 find).  Format limitation, documented and pinned:
    NULL and '' both serialize as an empty field, so the reader maps
    both to NULL — CSV cannot distinguish them; feeds that need the
    distinction belong in parquet/ORC/JSON."""
    (
        df.write.mode("overwrite").option("header", "true")
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def write_orc(df: DataFrame, path: str, *, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    *,
    buckets: int,
    key: str | list[str],
    sort_by: str | list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and per-bucket sorted) external table.

    Bucketing pre-partitions the data by ``hash(key) % buckets`` at write
    time, so every later join or aggregation on ``key`` between tables
    with the same bucket count starts from a satisfied distribution:
    zero Exchange on either side (see ``join_fact_fact_bucketed`` and
    ``tests/test_scale_plans.py``).  That is the co-located-join strategy
    for fact↔fact joins that repeat at 100 TB — pay the shuffle once at
    ingest, never again.  ``sortBy`` additionally makes each bucket file
    merge-join-ready without a per-task sort.

    ``buckets`` sizing at scale: aim for bucket files in the 100-500 MB
    range (e.g. ~25k buckets for 10 TB of fact data); too few buckets
    caps join parallelism, too many makes small files.

    Bucketed layout requires the table catalog (``saveAsTable``); plain
    ``.parquet(path)`` writes would lose the bucket metadata.  The
    ``path`` option keeps the data external to the warehouse dir.
    """
    keys = [key] if isinstance(key, str) else list(key)
    sorts = keys if sort_by is None else (
        [sort_by] if isinstance(sort_by, str) else list(sort_by)
    )
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, keys[0], *keys[1:])
        .sortBy(sorts[0], *sorts[1:])
        .option("path", path)
        .saveAsTable(table)
    )


def zorder_key(
    df: DataFrame,
    columns: list[str],
    *,
    bits: int = 8,
    ranges: dict[str, tuple[float, float]] | None = None,
):
    """A Z-order (Morton) clustering key over ``columns`` as a Column.

    Each column quantizes to a ``bits``-bit bucket index over its value
    range (``width_bucket`` — one codegen'd expression, no shuffle), and
    the per-column bit patterns interleave: bit *i* of column *c* lands at
    position ``i * len(columns) + c``.  Sorting by the result places rows
    close in EVERY listed dimension into the same neighborhoods — the
    multi-dimensional generalization of sort-by-one-column, and the same
    public technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.

    ``ranges`` maps column -> (lo, hi); columns absent from it get their
    true min/max from one tiny aggregation (a full scan, but metadata-only
    on parquet sources).  Date/timestamp columns quantize over their epoch
    seconds (supplied ``ranges`` for them are epoch seconds too); other
    non-numeric types fail loud — z-ordering strings needs dictionary
    ranks, a different operator.  NULL values cluster at key 0.
    """
    from pyspark.sql.types import (
        DateType, NumericType, TimestampNTZType, TimestampType,
    )

    if not columns:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(columns) > 62:
        raise ValueError("bits * len(columns) must fit a long (<= 62)")
    numeric: dict[str, Column] = {}
    for name in columns:
        dt = df.schema[name].dataType
        if isinstance(dt, (DateType, TimestampType, TimestampNTZType)):
            numeric[name] = F.col(name).cast("timestamp").cast("double")
        elif isinstance(dt, NumericType):
            numeric[name] = F.col(name).cast("double")
        else:
            raise ValueError(
                f'zorder_key column "{name}" has type {dt.simpleString()}; '
                "only numeric, date and timestamp columns quantize to a "
                "linear bucket index"
            )
    ranges = dict(ranges or {})
    missing = [c for c in columns if c not in ranges]
    if missing:
        # Non-finite exclusion: Spark orders NaN greater than every
        # number, so a single NaN row poisons max() (min is
        # unaffected), and a NaN upper bound passes the lo >= hi
        # degenerate check below (NaN comparisons are False) —
        # width_bucket would then NULL every row and the dimension
        # would silently contribute constant bits.  A single ±Inf row
        # does the same through the other door (r15 review pass 16):
        # hi = +Inf makes (v-lo)/(hi-lo) collapse every finite row
        # into bucket 1 — constant bits again, silently.  Excluding
        # BOTH from the aggregates keeps the true finite range;
        # NaN/NULL rows cluster at key 0 and ±Inf rows clamp into the
        # edge buckets via width_bucket's overflow slots — strictly
        # better clustering than losing the whole dimension.
        finite = {
            c: F.when(F.abs(numeric[c]) != float("inf"), numeric[c])
            for c in missing
        }
        row = df.agg(
            *[f(F.nanvl(finite[c], F.lit(None).cast("double")))
              for c in missing for f in (F.min, F.max)]
        ).first()
        for i, c in enumerate(missing):
            ranges[c] = (row[2 * i], row[2 * i + 1])
    n_buckets = 1 << bits
    key = F.lit(0).cast("long")
    for c_idx, name in enumerate(columns):
        lo, hi = ranges[name]
        if (
            lo is None or hi is None
            # Caller-supplied ranges can still carry NaN/±Inf: same
            # silent constant-bits failure, so treat both as
            # degenerate too (an infinite bound cannot quantize).
            or not math.isfinite(float(lo)) or not math.isfinite(float(hi))
            or float(lo) >= float(hi)
        ):
            # Degenerate (constant / all-NULL) column: contributes nothing
            # to the ordering, so skip its bits rather than divide by zero.
            continue
        bucket = F.width_bucket(
            numeric[name], F.lit(float(lo)), F.lit(float(hi)),
            F.lit(n_buckets),
        )
        # width_bucket is 1-based with 0/n+1 overflow slots -> clamp to
        # [0, 2^bits); NULL -> 0.
        bucket = F.coalesce(
            F.greatest(F.least(bucket - 1, F.lit(n_buckets - 1)), F.lit(0)),
            F.lit(0),
        ).cast("long")
        for i in range(bits):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, i * len(columns) + c_idx)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    zorder_by: list[str],
    n_files: int = 8,
    bits: int = 8,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> None:
    """Write parquet clustered by a Z-order key over ``zorder_by``.

    ``repartitionByRange`` on the key (one shuffle — the price of any
    clustering) then ``sortWithinPartitions``, so each output file — and
    each row group inside it — covers a tight hyper-rectangle of the
    listed columns.  Parquet min/max stats then prune scans for box
    predicates on ANY of them, where a single-column sort only helps its
    one column.  The key is a helper column for the write and does not
    land in the files.

    Sizing: ``n_files`` plays the role bucket count plays for
    ``write_bucketed`` — target 100-500 MB files at scale.  Re-cluster
    periodically as data appends, like any OPTIMIZE job.
    """
    key = zorder_key(df, zorder_by, bits=bits, ranges=ranges)
    # Collision-proof helper name (r15 review pass 16): a fixed "_zkey"
    # would silently OVERWRITE a user column of that name and then drop
    # it from the written files — data loss, not an error.
    kname = "_zkey"
    while kname in df.columns:
        kname += "_"
    (
        df.withColumn(kname, key)
        .repartitionByRange(n_files, kname)
        .sortWithinPartitions(kname)
        .drop(kname)
        .write.mode("overwrite").parquet(path)
    )


def formula_passthrough_columns(source: DataFrame, spec: MappingSpec) -> DataFrame:
    """Produce the full output projection where FORMULA columns carry
    spreadsheet formula *text* (deferred evaluation) instead of computed
    values; DIRECT and CONSTANT columns evaluate normally (fidelity
    strings) — together, exactly the row the reference's ``setValues``
    writes (``main.gs:83-116``).

    ``src[X]`` splices the row value; values that are non-numeric after
    ``%`` removal are double-quoted (``main.gs:90-95``).  ``self[Out]``
    becomes the A1 address of that output column: letter from declaration
    position, row number = output row ordinal + 2 (header row + 1-basing,
    ``main.gs:69,114``).  Requires a deterministic row order, so callers
    must provide an ordering column via ``order_by`` semantics — here we
    use the first DIRECT column's source order via row_number over a
    constant partition only at sheet scale (pass-through is a spreadsheet
    sink; it is not a 100 TB path).
    """
    from pyspark.sql.window import Window

    from spreadsheet_etl_engine_spark.plans.compiler import MappingCompiler

    # Filters first: the reference numbers output rows over *surviving*
    # rows only (currentRowNum = finalData.length + 2, main.gs:69), so an
    # unfiltered numbering would shift every self[...] A1 address.
    compiler = MappingCompiler(source, mode="fidelity")
    predicate = compiler.compile_predicate(spec)
    filtered = source.filter(predicate) if predicate is not None else source

    # Built incrementally: the reference adds a column to outputRowRefs
    # only AFTER its own substitution ran (main.gs:99-114), so self[X] can
    # only address an earlier-declared column — self-references and
    # forward references stay literal text in the emitted formula.
    out_positions: dict[str, int] = {}
    ordered = filtered.withColumn(
        "_row", F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
    )
    cols = []
    for col_idx, col in enumerate(spec.columns):
        if col.kind != ColumnKind.FORMULA:
            out_positions[col.name] = col_idx + 1
            if col.kind == ColumnKind.CONSTANT:
                value = (
                    compiler._substituted_string(col.instruction)
                    if SRC_REF_RE.search(col.instruction)
                    else F.lit(col.instruction)
                )
            else:
                value = compiler._direct(col.instruction)
            cols.append(value.cast("string").alias(col.name))
            continue
        body = col.instruction
        parts = []
        pos = 0
        for m in SRC_REF_RE.finditer(body):
            if m.start() > pos:
                parts.append(F.lit(body[pos:m.start()]))
            value = F.col(m.group(1)).cast("string")
            # JS isNaN semantics (main.gs:92): only the FIRST '%' is
            # removed (String.replace with a string pattern), '' and
            # whitespace coerce to 0 (numeric), and try_cast avoids
            # ANSI-mode cast failures on non-numeric values.
            before = F.substring_index(value, "%", 1)
            after_start = F.length(before) + 2
            nopct = F.when(
                value.contains("%"),
                F.concat(before, value.substr(after_start, F.length(value))),
            ).otherwise(value)
            numericish = (F.trim(nopct) == "") | nopct.try_cast("double").isNotNull()
            parts.append(F.when(numericish, value).otherwise(F.concat(F.lit('"'), value, F.lit('"'))))
            pos = m.end()
        if pos < len(body):
            parts.append(F.lit(body[pos:]))
        expr = F.concat(*parts) if parts else F.lit("")

        # self[X] → A1 address: column letter of X's declaration position +
        # output row number (+1 for the header row, main.gs:69,114).
        # Literal replace (F.replace), so metacharacters in column names
        # never become regex syntax.
        for sm in SELF_REF_RE.finditer(body):
            ref = sm.group(1)
            if ref in out_positions:
                addr = F.concat(
                    F.lit(column_letter(out_positions[ref])),
                    (F.col("_row") + 1).cast("string"),
                )
                expr = F.replace(expr, F.lit(f"self[{ref}]"), addr)
        cols.append(expr.alias(col.name))
        out_positions[col.name] = col_idx + 1
    return ordered.select(F.col("_row"), *cols)


def write_xlsx(
    df: DataFrame,
    path: str,
    *,
    sheet_name: str = "Output",
    max_rows: int = 1_048_575,
) -> None:
    """Write a (sheet-sized) DataFrame to xlsx via the stdlib-native OOXML
    codec (``sources/xlsx_native.py``; no openpyxl in this environment).

    Collects to the driver — by definition a spreadsheet-sized sink
    (Excel's grid caps at 1,048,576 rows INCLUDING the header, hence the
    1,048,575 data-row default); big outputs belong in parquet.  A frame
    larger than ``max_rows`` FAILS LOUD instead of silently truncating
    (r9 review find: ``df.limit`` used to drop the excess without a
    word, and the old default let the last row land one past Excel's
    grid).  Mirrors the reference's overwrite-sheet semantics
    (``main.gs:124-129``): header row first, then data; string cells
    starting with ``=`` become live formula cells, exactly as
    ``setValues`` would make them (the pass-through mode's deferred
    evaluation rides on this).
    """
    from spreadsheet_etl_engine_spark.errors import EngineError
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    rows = [tuple(r) for r in df.limit(max_rows + 1).collect()]
    if len(rows) > max_rows:
        raise EngineError(
            f"write_xlsx: output exceeds {max_rows} data rows (Excel's "
            "grid holds 1,048,576 rows including the header) — write "
            "parquet/CSV for larger outputs, or raise max_rows if the "
            "target app allows it."
        )
    xlsx_native.write_workbook(path, list(df.columns), rows, sheet_name=sheet_name)
