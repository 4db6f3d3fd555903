"""Streaming deduplication — dedup ON INGEST.

All batch dedup (operators/dedup.py) assumes the corpus is at rest; a
real training-data pipeline also dedups the feed as it arrives, with
at-least-once delivery making exact re-deliveries the common case.  Three
operators, all with batch twins so the DuckDB oracle applies:

* :func:`dedup_within_watermark` — exact-copy dedup via
  ``dropDuplicates`` over ALL columns behind a watermark.  Because the
  event-time column is part of the dedup key, Spark evicts seen-key
  state once it falls behind the watermark, so a continuous deployment
  holds only the re-delivery horizon's keys — the difference between
  O(horizon) and O(stream) state.  Final output set ≡ batch
  ``SELECT DISTINCT *`` (order-free, so exactly oracle-able).
* :func:`seen_index_stream` — the ``incremental_dedup`` seen-index
  contract as a streaming aggregation: ``(n_copies, min_id)`` per
  content hash, one state row per hash — the state-store form of the
  persisted index table ``operators/dedup.py:incremental_dedup``
  maintains in parquet.  Every emitted quantity is
  arrival-order-independent at final state (count and min are
  commutative), which is what makes a streaming operator batch-oracle-
  able at all — "first seen" by arrival would be micro-batch-layout
  luck.

* :func:`band_candidates_stream` — FUZZY
  dedup on ingest: the state is keyed by MinHash LSH band
  (``operators/dedup.py:minhash_band_keys`` — the same banding the
  batch self-join uses), each bucket remembers the ids it has seen,
  and a newly arriving id emits one candidate pair per prior occupant
  — the streaming form of ``minhash_lsh_pairs``'s bucket self-join,
  feeding the same verify stage.  The emitted pair SET equals the
  batch query's (each unordered pair appears when its later member
  arrives; exact re-deliveries are skipped by id), so the DuckDB
  oracle applies after a DISTINCT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from spreadsheet_etl_engine_spark.streaming.events import check_stream_columns

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

# Stream input rows per state-shuffle partition per trigger (see
# stream_state_partitions).
_ROWS_PER_STATE_PARTITION = 256


def stream_state_partitions(
    spark: SparkSession, rows_per_trigger: float
) -> int:
    """State-shuffle partition count for a stateful streaming query, sized
    by its per-trigger input rows instead of the batch-query default.

    ``spark.sql.shuffle.partitions`` fixes a stateful query's state
    partition count at FIRST start (it is locked into the checkpoint),
    and every micro-batch then pays a fixed per-PARTITION cost — a task
    launch, a Python-worker Arrow round trip, a state-store
    open/commit — whether or not rows arrived for it.  The session
    default (≈ cluster cores) is a batch-query default: measured on
    the sf0.1 fuzzy-dedup harness, 32 near-empty state partitions cost
    ~0.9 s per micro-batch against tens of ms of useful work, and the
    bench line ANTI-scaled 8→32 cores (ratio 0.79; P∈{32,8,4,2,1}
    measured 6.2/3.6/3.5/4.1/5.1 s — the optimum is where per-task
    state work ≫ the fixed cost).  The count is one partition per 256
    stream rows per trigger (at the measured ~0.3-1 ms of banding +
    state work per stream row, a partition's per-trigger slice costs
    ~10-25× its fixed cost, so tasks stay useful without starving
    parallelism), floor 1, cap 4× the cluster's defaultParallelism so
    one huge backfill trigger cannot demand an absurd count.  At real
    ingest scale the same expression yields thousands of partitions;
    locally it stops burning a fixed cost per idle partition.  Like any
    state re-partitioning, a changed count re-keys the state store — it
    must be chosen before the FIRST start of a checkpointed query and
    kept for its lifetime.
    """
    cap = 4 * spark.sparkContext.defaultParallelism
    want = -(-int(rows_per_trigger) // _ROWS_PER_STATE_PARTITION)  # ceil
    return max(1, min(want, cap))


_STATE_GROUPS_PER_PARTITION = 8


def resolve_state_groups(spark: SparkSession) -> int:
    """Packed-state group count of :func:`band_candidates_stream`:
    ``8 × spark.sql.shuffle.partitions`` of the session the operator is
    built in (read at construction, so size the width FIRST).

    Why 8×: every TOUCHED group costs ~1 ms of
    ``applyInPandasWithState`` serializer overhead per micro-batch (an
    in-worker SIGPROF sampler put >90% of the streaming line's worker
    CPU in ``gen_data_and_pandas``/``arrow_to_pandas``/
    ``construct_state_pdf`` pandas plumbing, not the state function),
    so groups ≫ needed spread is pure overhead — a groups sweep at P=3
    measured worker CPU 14.4/9.5/8.7/7.6/7.5 s per run at
    256/64/24/12/6 groups, identical output — while groups must still
    exceed partitions enough for even hash placement (8× keeps the
    max/mean partition load reasonable) and keep each group's state row
    SMALL (``applyInPandasWithState`` rebuilds a touched group's whole
    state row per batch).  CHECKPOINT: the group count is part of the
    stateful key, so a changed partition width re-keys the state store
    — keep it for the query's lifetime (upgrades need a fresh
    ``checkpointLocation``).
    """
    return _STATE_GROUPS_PER_PARTITION * int(
        spark.conf.get("spark.sql.shuffle.partitions"))


def read_document_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of document parquet files under ``path`` —
    the documents-table sibling of ``events.read_event_stream``, checked
    against ``DOC_SCHEMA`` the same way (``events.check_stream_columns``)."""
    check_stream_columns(spark, path, DOC_SCHEMA, "document")
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def dedup_within_watermark(
    stream: DataFrame, ts_col: str, delay: str
) -> DataFrame:
    """Exact-delivery dedup: keep the first arrival of every distinct
    ROW, forget seen keys once they age past the watermark.

    The dedup key is ALL columns — at-least-once redelivery repeats the
    byte-identical record, and a full-row key makes "which copy
    survives" a non-question (any copy is every copy), so the final
    output set equals batch ``SELECT DISTINCT *`` under any micro-batch
    layout or retry.  Including ``ts_col`` in the key is also what lets
    Spark EVICT state behind the watermark; dedup on a subset without
    the event-time column would grow seen-key state forever (the
    ``dropDuplicatesWithinWatermark`` variant exists for that shape).
    ``delay`` is the re-delivery horizon: a copy arriving later than
    this slips through — size it like the stream-stream join watermark
    (a backfill run must cover the replayed span; continuous runs use
    the transport's real redelivery bound).

    Epoch-floor contract: Spark's watermark is monotone from 0 ms and
    the late predicate is INCLUSIVE, so a row whose event time is
    exactly 1970-01-01T00:00:00Z, processed in a later micro-batch
    than any newer file, ties the floored watermark and is silently
    dropped as late NO MATTER how large ``delay`` is (found by the
    edge sweep: a corrupt epoch timestamp is routine corpus garbage).
    The operator therefore watermarks a derived column clamped to
    epoch+1 day — rows in that first day are treated as 1 day newer
    for watermark accounting only (never wrongly dropped, eviction at
    most 1 day later); the clamp column joins the all-columns dedup
    key, which changes nothing (it is a pure function of ``ts_col``,
    so exact copies still collide and distinct rows still don't).
    """
    wm = F.greatest(
        F.col(ts_col),
        F.lit("1970-01-02 00:00:00").cast("timestamp"),
    )
    return (
        stream.withColumn("__wm_ts", wm)
        .withWatermark("__wm_ts", delay)
        .dropDuplicates()
        .drop("__wm_ts")
    )


def seen_index_stream(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Running content-hash seen-index: a streaming aggregation of
    ``(n_copies, min id)`` per distinct ``md5(text)``.  Run in update
    mode, it emits the updated ``(content_hash, rep_doc_id, n_copies)``
    row of every hash touched in a micro-batch.

    The final emission per hash is the batch ``exact_dedup`` row
    (count + min-id representative) regardless of arrival order —
    count and min are the commutative core of the survivorship
    contract, which is why this is oracle-able while a "first arrival
    wins" index is not.  SQL semantics hold throughout: ``min`` skips
    NULL ids (a hash that only saw NULL ids emits NULL), and NULL text
    hashes to the NULL content group, a real row of the index.

    The state is Spark's own aggregation buffer, one row per distinct
    hash, keyed by the hash itself; a restart restores it from the
    checkpoint whatever the caller's shuffle width.  It grows with
    distinct content, not corpus rows, the same bound as the parquet
    index ``incremental_dedup`` keeps.
    """
    return docs.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(F.col(id_col).cast("long")).alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def band_candidates_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH candidate pairs — fuzzy dedup on ingest.

    Signatures and band keys are computed PER-ROW during the micro-
    batch scan (``minhash_band_keys`` — the exact banding the batch
    self-join ``minhash_lsh_pairs`` uses, so stream and batch collide
    identically); the single stateful shuffle keys
    ``applyInPandasWithState`` on ``(band_id, band_hash)``.  Each
    bucket's state is the sorted list of ids seen; a new id emits one
    ``(id_a, id_b)`` candidate (a < b) per prior occupant and joins the
    state.  Downstream is the SAME verify stage batch LSH feeds —
    candidates are collision hypotheses, not verdicts.

    Order-free contract: the emitted pair SET is exactly the set of
    same-bucket pairs, whatever the micro-batch layout — a pair is
    emitted precisely when its later-arriving member lands, and exact
    re-deliveries (id already in state) emit nothing and change no
    state.  A pair that collides in several bands is emitted once per
    band, as the batch bucket join would before its DISTINCT — the
    consumer dedups, which is also what makes the stream ≡ batch
    oracle hold.  NULL ids cannot pair (SQL ``<`` never matches them)
    and are dropped at the source projection, mirroring the batch
    join's behavior.

    State bound: one list per DISTINCT band key, total ids across
    lists = the corpus's (doc, band) rows — the same cardinality the
    batch join shuffles, held as compact long lists.  For a continuous
    deployment, ``max_bucket`` caps pathological buckets (the PPJoin
    max_df guard's streaming form: a stop-shingle bucket would
    otherwise grow O(corpus) state AND emit O(n^2) candidates): a full
    bucket freezes — new ids in it emit nothing and are not remembered
    — trading recall on degenerate buckets for a hard state/output
    bound.  Leave None when exact batch parity is required.

    State LAYOUT (result-identical): buckets are packed into
    :func:`resolve_state_groups` groups per state row instead of one
    state row per distinct band key.  ``applyInPandasWithState`` pays a
    fixed per-GROUP serializer cost on both sides of the Arrow boundary
    (per-group pandas slicing/concat + a state round-trip per group —
    measured ~1ms/group, ~55-60s of worker CPU per sf0.1 harness run
    over ~13k single-occupant band-key groups, guide §4.1/§4.5), so
    the stateful key is ``pmod(xxhash64(band_id, band_hash), groups)``
    and each group's state holds its buckets as parallel arrays
    ``(band ids, band hashes, id lists)``.  Pairing still happens
    strictly WITHIN a (band_id, band_hash) bucket — the dict rebuild per
    group is O(bucket entries) — so the emitted pair set, the
    re-delivery no-op, and the per-bucket ``max_bucket`` freeze are
    byte-identical to the one-group-per-band-key layout (pytest-pinned
    against batch ``minhash_lsh_pairs``).  The group count only needs to
    spread state evenly over the shuffle partitions and keep per-group
    state rebuilds small, so it follows the width of the session
    ``docs`` belongs to (:func:`resolve_state_groups`).  CHECKPOINT:
    the group count and the partition COUNT of the stateful shuffle are
    both part of the state layout — size the width before first start
    via :func:`stream_state_partitions` and keep it for the query's
    lifetime; a checkpoint written by the one-row-per-band-key layout
    (different stateful key AND value schema) cannot be restored
    either: replay the retained feed into a fresh
    ``checkpointLocation``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from spreadsheet_etl_engine_spark.operators.dedup import minhash_band_keys

    groups = resolve_state_groups(docs.sparkSession)
    keys = minhash_band_keys(
        docs.filter(F.col(id_col).isNotNull()), text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    ).withColumn(
        "_state_group",
        F.pmod(F.xxhash64("band_id", "band_hash"), F.lit(groups)),
    )

    output_schema = "id_a long, id_b long, band_id int"
    state_schema = (
        "band_ids array<int>, band_hashes array<string>, "
        "idlists array<array<long>>"
    )

    def update(key, pdf_iter, state):
        if state.exists:
            bids, bhs, lists = state.get
            buckets: dict[tuple[int, str], list[int]] = {
                (int(a), b): list(l) for a, b, l in zip(bids, bhs, lists)
            }
        else:
            buckets = {}
        out_a: list[int] = []
        out_b: list[int] = []
        out_band: list[int] = []
        for pdf in pdf_iter:
            for bid, bh, i in zip(
                pdf["band_id"].tolist(), pdf["band_hash"].tolist(),
                pdf[id_col].tolist(),
            ):
                bid, i = int(bid), int(i)
                seen = buckets.setdefault((bid, bh), [])
                if i in seen:
                    continue                  # exact re-delivery: no-op
                if max_bucket is not None and len(seen) >= max_bucket:
                    continue                  # capped bucket: skew guard
                for j in seen:
                    out_a.append(min(i, j))
                    out_b.append(max(i, j))
                    out_band.append(bid)
                seen.append(i)
        if buckets:
            items = sorted(buckets.items())   # deterministic state bytes
            state.update((
                [k[0] for k, _ in items],
                [k[1] for k, _ in items],
                [sorted(v) for _, v in items],
            ))
        import numpy as np

        # numpy-typed columns skip pandas' per-column list→int cast
        # validation (maybe_cast_to_integer_array showed up in the
        # worker CPU profile at this call site).
        yield pd.DataFrame(
            {
                "id_a": np.asarray(out_a, dtype="int64"),
                "id_b": np.asarray(out_b, dtype="int64"),
                "band_id": np.asarray(out_band, dtype="int32"),
            }
        )

    # Append, not update: every pair is emitted exactly once and never
    # superseded (emit-once semantics), which is also what lets the
    # query run straight into an append-only parquet sink — candidate
    # volume never touches the driver.
    return keys.groupBy("_state_group").applyInPandasWithState(
        update, output_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
