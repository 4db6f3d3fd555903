"""Source readers (the reference's only source is a Google Sheet scan,
``main.gs:51-59``; here: parquet/CSV/JSON/ORC natively, Excel via the
stdlib OOXML codec, with the driver's table layout as a convenience).

Scale notes: all readers return lazy DataFrames; never collect.  CSV in
fidelity mode reads every column as a string, matching the reference's
``getDisplayValues`` semantics (``main.gs:52``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_INT_RE = re.compile(r"[+-]?\d+")

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` arrives either as parquet TIMESTAMP(NANOS) — which
    Spark 4 refuses to read natively, so we read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
    microseconds with *integer* division (floating division would lose
    precision above 2^53 ns), matching DuckDB's ns→µs truncation — or
    already as TIMESTAMP(MICROS)/NTZ, which passes through untouched.
    The actual read schema decides; both layouts normalize to the same
    microsecond timestamp column.
    """
    # Timestamp-to-string casts in query outputs assume a UTC session —
    # pin it here so driver-created sessions with another TZ still match
    # the (naive-timestamp) DuckDB oracles.  Deliberately session-GLOBAL
    # and persistent (r10 review pass 5: same mutation class as the r9
    # setCheckpointDir finding, here it IS the contract): every query in
    # this engine assumes UTC, and a session that loads these tables is
    # running this engine.  A caller that needs another display TZ for
    # its own frames should restore the conf after loading.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Scope the legacy conf to THIS read: schema resolution happens
        # at read() time, so restoring the prior value immediately after
        # is safe even on a genuine nanos layout (verified empirically —
        # the resolved LongType plan still executes), and a LATER user
        # read of some other nanos file keeps Spark's default fail-loud
        # behavior instead of silently returning raw longs (r9 review
        # find: the conf used to leak session-wide).
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        from pyspark.sql.types import LongType, TimestampType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # Session TZ is UTC, so NTZ→LTZ preserves every value; downstream
        # queries (unix_micros, window(), casts to string) expect TIMESTAMP.
        return df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_csv(
    spark: SparkSession, path: str, *, fidelity: bool = False,
    schema=None, multiline: bool | None = None, **options: str
) -> DataFrame:
    """CSV scan. ``fidelity=True`` keeps every column a string (display-value
    semantics); otherwise Spark infers a typed schema.

    ``multiline`` controls RFC4180 quoted-newline support.  Default:
    ``True`` in fidelity mode (spreadsheet-lossless, sheet-sized data —
    without it a quoted embedded newline SPLITS the record and emits
    garbage fragment rows, r9 edge-family-10 find), ``False`` in typed
    mode (each file stays byte-splittable — the 100 TB scan path; a
    typed feed carrying embedded newlines should pass multiline=True
    and accept per-file parallelism, or use parquet).

    Pass ``schema`` (a StructType or DDL string) for production feeds,
    same contract as ``read_json``: inference needs rows (typed mode) or
    at least a header line (fidelity mode), so an EMPTY directory dies
    columnless without one, and at scale inference costs an extra pass
    over the files.  With an explicit schema the empty slice is a
    well-defined zero-row frame (r8 verdict item 5).

    Under ``fidelity=True`` a typed schema contributes only its column
    NAMES: the read happens with an all-string version of it, because
    parsing '007' through an int field and casting back would yield '7'
    (and an unparseable cell would become NULL) — display-value
    semantics mean the raw cell text, losslessly (r9 review find)."""
    from pyspark.sql import types as T

    if multiline is None:
        multiline = fidelity
    # escape='"': RFC 4180 doubles a quote inside a quoted field; Spark's
    # default backslash escape would keep a spreadsheet export's ""
    # verbatim and misread a field that ends in a backslash.
    reader = (
        spark.read.option("header", "true")
        .option("multiLine", "true" if multiline else "false")
        .option("escape", '"')
    )
    if schema is not None:
        if fidelity:
            st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
            schema = T.StructType(
                [T.StructField(f.name, T.StringType(), f.nullable) for f in st.fields]
            )
        # enforceSchema=false: validate header names against the schema's
        # field names (position-wise) and FAIL on mismatch — the default
        # (true) ignores the header entirely, so an upstream column
        # reorder/rename/insertion would silently land data in the wrong
        # columns (r9 review find).  mode=FAILFAST (overridable): a
        # malformed record raises instead of silently becoming NULLs.
        reader = reader.schema(schema).option("enforceSchema", "false")
        if "mode" not in options:
            reader = reader.option("mode", "FAILFAST")
    elif fidelity:
        reader = reader.option("inferSchema", "false")
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, *, fidelity: bool = False,
    schema=None, **options: str
) -> DataFrame:
    """JSON-lines scan.  ``fidelity=True`` reads every field as a string
    (display-value semantics, mirroring ``read_csv``); otherwise Spark
    infers the schema.  Multi-line JSON via ``multiLine='true'``.

    Pass ``schema`` (a StructType or DDL string) for production feeds:
    inference costs an extra full pass over the files at scale, and an
    EMPTY directory — a routine occurrence when an upstream filter
    matched nothing — has no rows to infer from, so the schemaless read
    comes back columnless and every downstream column reference fails
    (r8 empty-slice sweep find).  With an explicit schema the empty
    slice is a well-defined zero-row frame.

    Under ``fidelity=True`` a typed schema contributes only its column
    NAMES — the read uses an all-string version so a field keeps its
    raw lexeme instead of being parsed and re-rendered (same contract
    as ``read_csv``)."""
    from pyspark.sql import types as T

    reader = spark.read
    if schema is not None:
        if fidelity:
            st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
            schema = T.StructType(
                [T.StructField(f.name, T.StringType(), f.nullable) for f in st.fields]
            )
        # FAILFAST (overridable): a malformed line raises instead of
        # silently becoming an all-NULL row (r9 review find).  A MISSING
        # field still reads as NULL — JSON is schemaless, so absence is
        # not malformation; rename-drift detection belongs to a quality
        # constraint (not_null) on the required fields.
        reader = reader.schema(schema)
        if "mode" not in options:
            reader = reader.option("mode", "FAILFAST")
    elif fidelity:
        # Schemaless fidelity: keep the RAW lexeme.  Without this, Spark
        # infers doubles and the final cast re-renders them ('1.50' ->
        # '1.5', big ints lose precision through float64 — r9 review
        # find); primitivesAsString preserves the source text.  The cast
        # below still stringifies non-primitive (struct/array) fields.
        reader = reader.option("primitivesAsString", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.json(path)
    if fidelity:
        df = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    return df


def read_orc(
    spark: SparkSession, path: str, *, fidelity: bool = False,
    schema=None, **options: str
) -> DataFrame:
    """ORC scan (Spark-native columnar source — same pushdown/pruning
    story as parquet).  ``fidelity=True`` casts every column to its
    display string, mirroring ``read_csv``/``read_json``.

    ORC files carry their schema, but a directory with NO files (the
    routine empty upstream slice) has nothing to infer from — pass
    ``schema`` so it reads as a well-defined zero-row frame, same
    contract as ``read_csv``/``read_json``."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.orc(path)
    if fidelity:
        df = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    return df


def read_excel(
    spark: SparkSession, path: str, *, sheet_name: str | int = 0, fidelity: bool = False
) -> DataFrame:
    """Excel scan via the stdlib-native OOXML codec
    (``sources/xlsx_native.py`` — no JVM excel datasource and no openpyxl
    in this environment).  Suitable for the reference's actual use case —
    spreadsheet-sized inputs (``main.gs:51-53``); large data belongs in
    parquet/CSV.

    ``fidelity=True`` returns every column as its display string
    (``getDisplayValues`` semantics, ``main.gs:52``).  Otherwise columns
    whose cells are all number cells come back typed: ``bigint`` when
    every value is integral, ``double`` otherwise.
    """
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    grid = xlsx_native.read_workbook(path, sheet_name=sheet_name)
    return sheet_frame(spark, grid, fidelity=fidelity)


def sheet_frame(
    spark: SparkSession,
    grid: tuple[list[str], list[list[str]], list[list[bool]]],
    *, fidelity: bool = False,
) -> DataFrame:
    """A DataFrame over one already-parsed sheet, the ``(header, rows,
    numeric_flags)`` triple ``xlsx_native.read_workbook`` returns; column
    typing as in :func:`read_excel`."""
    from pyspark.sql import types as T

    header, rows, numeric = grid
    if fidelity or not rows:
        schema = T.StructType([T.StructField(h, T.StringType()) for h in header])
        return spark.createDataFrame([tuple(r) for r in rows], schema)

    def col_type(i: int):
        vals = [r[i] for r in rows]
        if not all(numeric[ri][i] or v == "" for ri, v in enumerate(vals)):
            return T.StringType(), lambda v: v if v != "" else None
        if all(v == "" or _INT_RE.fullmatch(v) for v in vals):
            return T.LongType(), lambda v: int(v) if v != "" else None
        return T.DoubleType(), lambda v: float(v) if v != "" else None

    types = [col_type(i) for i in range(len(header))]
    schema = T.StructType(
        [T.StructField(h, t) for h, (t, _) in zip(header, types)]
    )
    data = [tuple(conv(v) for v, (_, conv) in zip(r, types)) for r in rows]
    return spark.createDataFrame(data, schema)
