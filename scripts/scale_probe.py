"""Measured ~10x scaling curves for the four most scale-sensitive
operators (r7 verdict item 3) — turning SCALE.md's argued claims into
recorded wall-time ratios.

Method (the standing BENCH_NOTES rules): ONE process, synthetic corpora
generated distributively (spark.range + hash mixing — no driver-side
data), interleaved reps per arm, medians reported.  A shape that scales
linearly should show a time ratio ~<= the data ratio (10x) at local[32];
super-linear ratios get a named cause.

Probes:
  ngram     dedup_ngram_jaccard_pairs at n and 10n docs, vocabulary
            scaled WITH the corpus (real corpora grow vocabulary, which
            holds per-shingle df roughly constant — the regime PPJoin's
            candidate bound Sum(df^2) is linear in).
  paragraph paragraph_dedup at n and 10n docs, every doc sharing one of
            4 hot 10-word headers (the operator's target workload: hot-
            chunk frequency grows 10x with the corpus).
  ivf       similarity_topk_ivf at n and 10n corpus vectors, fixed
            nlist/nprobe/spill: wall-time ratio AND recall-vs-exact at
            both scales (the quality axis SCALE.md promises survives
            growth).
  ivfpq     topk_ivfpq's QUERY PATH (encode + probed-list ADC scan +
            exact rerank; index pretrained untimed — training is a
            bounded fixed cost that would dilute the curve) at n and
            10n corpus vectors, with recall at both scales.
  salted    join_skew_salted's shape (salted_join) vs the plain shuffle
            join on a fact table where ONE key holds 50% of rows, at n
            and 10n fact rows.

Usage:
    python scripts/scale_probe.py [--reps 3] [--probe name ...]
Prints one JSON line per probe; paste the table into BENCH_NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark() -> SparkSession:
    from spreadsheet_etl_engine_spark.session import get_spark

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Distributed synthetic corpora (deterministic: everything derives from
# the row id via xxhash64 — no Python RNG, no driver-side rows).


def synth_docs(spark: SparkSession, n: int, *, words_per_doc: int = 30,
               vocab: int | None = None, dup_every: int = 50) -> DataFrame:
    """n documents of ``words_per_doc`` tokens drawn from a ``vocab``-word
    vocabulary (default: vocab = n, holding per-shingle df ~constant as n
    grows).  Every ``dup_every``-th doc is a near-copy of its predecessor
    (one token changed) so the true near-dup rate is scale-invariant."""
    v = vocab or n
    base = F.when(
        (F.col("id") % dup_every == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda i: F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(base, i)) % F.lit(v)).cast("string"),
        ),
    )
    # The near-copy: replace token 0 with a doc-unique word.
    first = F.when(
        (F.col("id") % dup_every == 1) & (F.col("id") > 0),
        F.concat(F.lit("u"), F.col("id").cast("string")),
    ).otherwise(F.element_at(words, 1))
    text = F.concat_ws(" ", F.concat(F.array(first), F.slice(words, 2, words_per_doc - 1)))
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def synth_boilerplate_docs(spark: SparkSession, n: int, *,
                           tail_words: int = 30) -> DataFrame:
    """Every doc = one of 4 hot 10-word headers + a unique tail: hot-chunk
    frequency is n/4 and grows linearly with the corpus."""
    header = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda i: F.concat(
                F.lit("h"), (F.col("id") % 4).cast("string"),
                F.lit("_"), i.cast("string"),
            ),
        ),
    )
    tail = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(tail_words - 1)),
            lambda i: F.concat(
                F.lit("t"),
                F.abs(F.xxhash64(F.col("id"), i)).cast("string"),
            ),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", header, tail).alias("text"),
    )


def synth_vectors(spark: SparkSession, n: int, *, dim: int = 32,
                  prefix: str = "c") -> DataFrame:
    """Unit-ish random vectors with WEAK cluster structure: 64 seed
    directions (deliberately misaligned with nlist=16) + dominant
    per-row noise.  Pure noise makes IVF recall a coin flip at any
    scale; strong structure makes it trivially 1.0 — the weak regime is
    where recall actually moves and is the realistic embedding case."""
    seed_dir = F.col("id") % 64
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            ((F.abs(F.xxhash64(seed_dir, i)) % 2000) / 1000.0 - 1.0)
            + ((F.abs(F.xxhash64(F.col("id"), i, F.lit(99))) % 2000) / 1000.0 - 1.0)
            * 1.5
        ).cast("float"),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )


def synth_skewed_fact(spark: SparkSession, n: int, *, n_keys: int = 1000) -> DataFrame:
    """Fact rows where key 0 holds 50% of all rows (the salting target)."""
    key = F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(
        F.abs(F.xxhash64(F.col("id"))) % n_keys
    )
    return spark.range(n).select(
        F.col("id").alias("row_id"), key.alias("k"),
        (F.col("id") % 97).cast("double").alias("amount"),
    )


# ---------------------------------------------------------------------------


def ab_medians(thunk_a, thunk_b, reps: int) -> tuple[float, float]:
    """Interleaved A/B timing (the BENCH_NOTES standing rule): one
    untimed warmup of the small arm absorbs JVM/codegen first-run cost,
    then each rep times A and B back-to-back so ambient drift hits both
    arms equally.  Medians returned."""
    thunk_a()
    ta, tb = [], []
    for _ in range(reps):
        t0 = time.monotonic()
        thunk_a()
        ta.append(time.monotonic() - t0)
        t0 = time.monotonic()
        thunk_b()
        tb.append(time.monotonic() - t0)
    return statistics.median(ta), statistics.median(tb)


def probe_ngram(spark: SparkSession, reps: int, n: int) -> dict:
    from spreadsheet_etl_engine_spark.operators.dedup import ngram_jaccard_pairs

    par = spark.sparkContext.defaultParallelism
    arms = {}
    for label, size in (("n", n), ("10n", 10 * n)):
        docs = synth_docs(spark, size)
        arms[label] = lambda d=docs: ngram_jaccard_pairs(
            d, "text", "doc_id", threshold=0.8, max_df_frac=0.02,
            parallelism=par,
        ).count()
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    return {"probe": "ngram_jaccard", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


def probe_paragraph(spark: SparkSession, reps: int, n: int) -> dict:
    from spreadsheet_etl_engine_spark.operators.dedup import paragraph_dedup

    arms = {}
    for label, size in (("n", n), ("10n", 10 * n)):
        docs = synth_boilerplate_docs(spark, size)
        arms[label] = lambda d=docs: paragraph_dedup(
            d, "text", "doc_id", chunk_words=10
        ).agg(F.sum("n_removed")).collect()
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    return {"probe": "paragraph_dedup_hotchunk", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


def _ivf_recall(spark: SparkSession, n: int, k: int = 5) -> tuple[float, float]:
    from spreadsheet_etl_engine_spark.operators.similarity import (
        topk_bruteforce, topk_ivf,
    )

    corpus = synth_vectors(spark, n).cache()
    corpus.count()
    queries = corpus.limit(50)
    t0 = time.monotonic()
    ivf = topk_ivf(corpus, queries, "embedding", "vec_id", k=k,
                   nlist=16, nprobe=4, spill=2).select(
        "query_id", "neighbor_id")
    ivf_rows = {(r[0], r[1]) for r in ivf.collect()}
    elapsed = time.monotonic() - t0
    exact = topk_bruteforce(corpus, queries, "embedding", "vec_id", k=k).select(
        "query_id", "neighbor_id")
    exact_rows = {(r[0], r[1]) for r in exact.collect()}
    recall = len(ivf_rows & exact_rows) / max(1, len(exact_rows))
    corpus.unpersist()
    return elapsed, recall


def probe_ivf(spark: SparkSession, reps: int, n: int) -> dict:
    # Same discipline as ab_medians: one untimed warmup, then
    # interleaved n / 10n reps, medians (recall is deterministic given
    # the corpus, so any rep's value serves).
    _ivf_recall(spark, n)
    t_ns, t_10ns = [], []
    rec_n = rec_10n = 0.0
    for _ in range(reps):
        t, rec_n = _ivf_recall(spark, n)
        t_ns.append(t)
        t, rec_10n = _ivf_recall(spark, 10 * n)
        t_10ns.append(t)
    t_n, t_10n = statistics.median(t_ns), statistics.median(t_10ns)
    return {"probe": "similarity_topk_ivf", "n": n, "t_n": round(t_n, 2),
            "t_10n": round(t_10n, 2), "ratio": round(t_10n / t_n, 2),
            "recall_n": round(rec_n, 3), "recall_10n": round(rec_10n, 3)}


def _ivfpq_recall(spark: SparkSession, n: int, k: int = 5) -> tuple[float, float]:
    """Time the IVF-ADC QUERY PATH (encode + probed-list ADC scan +
    exact rerank) with the index trained untimed — training is a
    bounded fixed cost (one 4096-row hash-ordered sample feeding both
    the coarse and residual k-means since the r15 sample-trainer
    default; MLlib is the opt-in) that would dilute the curve this
    gate exists to watch: the scan work that grows with the corpus."""
    from spreadsheet_etl_engine_spark.operators.similarity import (
        topk_bruteforce, topk_ivfpq, train_ivfpq,
    )

    corpus = synth_vectors(spark, n).cache()
    corpus.count()
    queries = corpus.limit(50)
    cents, books = train_ivfpq(corpus, "embedding", nlist=16, m=8,
                               ksub=256)
    t0 = time.monotonic()
    ann = topk_ivfpq(corpus, queries, "embedding", "vec_id", k=k,
                     nprobe=4, rerank=16, spill=2,
                     centroids=cents, codebooks=books).select(
        "query_id", "neighbor_id")
    ann_rows = {(r[0], r[1]) for r in ann.collect()}
    elapsed = time.monotonic() - t0
    exact = topk_bruteforce(corpus, queries, "embedding", "vec_id", k=k).select(
        "query_id", "neighbor_id")
    exact_rows = {(r[0], r[1]) for r in exact.collect()}
    recall = len(ann_rows & exact_rows) / max(1, len(exact_rows))
    corpus.unpersist()
    return elapsed, recall


def probe_ivfpq(spark: SparkSession, reps: int, n: int) -> dict:
    # Same discipline as probe_ivf: untimed warmup, interleaved n/10n
    # reps, medians; recall recorded at both arms.
    _ivfpq_recall(spark, n)
    t_ns, t_10ns = [], []
    rec_n = rec_10n = 0.0
    for _ in range(reps):
        t, rec_n = _ivfpq_recall(spark, n)
        t_ns.append(t)
        t, rec_10n = _ivfpq_recall(spark, 10 * n)
        t_10ns.append(t)
    t_n, t_10n = statistics.median(t_ns), statistics.median(t_10ns)
    return {"probe": "similarity_topk_ivfpq", "n": n, "t_n": round(t_n, 2),
            "t_10n": round(t_10n, 2), "ratio": round(t_10n / t_n, 2),
            "recall_n": round(rec_n, 3), "recall_10n": round(rec_10n, 3)}


def probe_semantic(spark: SparkSession, reps: int, n: int) -> dict:
    """SemDeDup semantic_dedup under the paper's operating discipline:
    nlist grows WITH the corpus (10x rows, 10x centroids) so expected
    cluster size stays fixed and within-cluster pair work — the
    dominant term, Σ cluster² ≈ n²/nlist — grows ~linearly.  A fixed
    nlist would be the quadratic regime this gate exists to catch
    (ratio would read ~10x the linear reading: n²/nlist grows 100x)."""
    from spreadsheet_etl_engine_spark.operators.dedup import semantic_dedup

    arms = {}
    for label, size, nlist in (("n", n, 8), ("10n", 10 * n, 80)):
        vecs = synth_vectors(spark, size)
        cents = [
            [float(v) for v in r["embedding"]]
            for r in vecs.orderBy("vec_id").limit(nlist).collect()
        ]
        arms[label] = lambda d=vecs, c=cents: semantic_dedup(
            d, "embedding", "vec_id", centroids=c, threshold=0.8
        ).filter(~F.col("kept")).count()
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    return {"probe": "semantic_dedup", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


def probe_wideschema(spark: SparkSession, reps: int, n: int) -> dict:
    """The untested scale axis (r11 verdict item 4): COLUMNS, not rows.
    nonfinite_report and check_constraints build per-column expression
    lists — one agg with 4 (resp. 1) expressions per column — and the
    classic wide-feature-table failure mode is Catalyst analysis /
    codegen superlinearity in the expression count, invisible to every
    row-growth curve.  ``n`` is the COLUMN count (rows fixed at 50k);
    the 10n arm therefore has 10x the cells AND 10x the expressions, so
    a healthy reading is ~linear (~10x at most, sub-linear in practice
    because fixed per-query overhead dilutes the small arm) and a
    quadratic-analysis regime reads ~50x+.  Timing includes Python
    expression construction + analysis + execution end-to-end — plan
    BUILD cost is exactly what this probe exists to see."""
    from spreadsheet_etl_engine_spark.operators.quality import (
        check_constraints, in_range, nonfinite_report,
    )

    rows = 50_000

    def make_arm(ncols: int):
        def run():
            cols = [
                ((F.col("id") * (i + 1)) % 997 / 7.0).alias(f"c{i}")
                for i in range(ncols)
            ]
            df = spark.range(rows).select(*cols)
            names = tuple(f"c{i}" for i in range(ncols))
            assert nonfinite_report(df, double_cols=names).count() == ncols
            cons = [
                in_range(f"r{i}", f"c{i}", -1.0, 1000.0)
                for i in range(ncols)
            ]
            assert check_constraints(df, cons).count() == ncols

        return run

    t1, t10 = ab_medians(make_arm(n), make_arm(10 * n), reps)
    return {"probe": "wide_schema_aggs", "n_cols": n, "rows": rows,
            "t_n": round(t1, 2), "t_10n": round(t10, 2),
            "ratio": round(t10 / t1, 2)}


def probe_salted(spark: SparkSession, reps: int, n: int) -> dict:
    from spreadsheet_etl_engine_spark.operators.relational import salted_join

    dim = spark.range(1000).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("dname")
    )
    out = {"probe": "join_skew_salted", "n": n}
    for label, size in (("n", n), ("10n", 10 * n)):
        fact = synth_skewed_fact(spark, size)
        t_salt, t_plain = ab_medians(
            lambda: salted_join(fact, dim, key="k", salt=32)
            .groupBy("dname").agg(F.sum("amount")).count(),
            lambda: fact.join(dim.hint("shuffle_hash"), "k")
            .groupBy("dname").agg(F.sum("amount")).count(),
            reps,
        )
        out[f"t_salted_{label}"] = round(t_salt, 2)
        out[f"t_plain_{label}"] = round(t_plain, 2)
    out["ratio_salted"] = round(out["t_salted_10n"] / out["t_salted_n"], 2)
    out["ratio_plain"] = round(out["t_plain_10n"] / out["t_plain_n"], 2)
    # The PRECISE comparative bound lives HERE, on the drained-probe
    # path (r12 ADVICE / verdict Next 5): pytest keeps only the 2.0x +
    # catastrophic bounds because in-suite session residue tripped 1.5x
    # twice on ~1s denominators (r12 history in
    # test_salted_join_not_worse_than_plain's docstring); a standalone
    # drained run has no such residue, so 1.5x is enforceable without
    # crying wolf.  main() exits non-zero on gate=FAIL.
    out["comparative"] = round(out["ratio_salted"] / out["ratio_plain"], 2)
    out["gate"] = "OK" if out["comparative"] <= 1.5 else "FAIL"
    return out


def synth_chain_edges(spark: SparkSession, n_chains: int, *,
                      chain_len: int = 16) -> DataFrame:
    """``n_chains`` disjoint path graphs of ``chain_len`` nodes each —
    the WORST realistic dup-cluster shape for min-label propagation
    (a clique converges in 1 round; a path needs diameter rounds).
    Node ids are hash-scattered so a component's members never share a
    partition by construction."""
    return (
        spark.range(n_chains * (chain_len - 1))
        .select(
            F.expr(f"id div {chain_len - 1}").alias("c"),
            (F.col("id") % (chain_len - 1)).alias("i"),
        )
        .select(
            (F.xxhash64(F.col("c") * chain_len + F.col("i"))).alias("id_a"),
            (F.xxhash64(F.col("c") * chain_len + F.col("i") + 1)).alias("id_b"),
        )
    )


def probe_components(spark: SparkSession, reps: int, n: int) -> dict:
    """connected_components at n and 10n chains of FIXED length 16: the
    iteration count is set by component DIAMETER (15 here), not corpus
    size, so 10x more chains must cost ~10x per round with the SAME
    round count — the scale risk is a workload where diameter grows with
    data, which the operator already fails loud on (max_iter)."""
    from spreadsheet_etl_engine_spark.operators.dedup import connected_components

    arms = {}
    for label, size in (("n", n), ("10n", 10 * n)):
        edges = synth_chain_edges(spark, size)
        arms[label] = lambda e=edges: connected_components(
            e, max_iter=25
        ).agg(F.countDistinct("component")).collect()
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    return {"probe": "dedup_components_chain", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


def probe_stardiam(spark: SparkSession, reps: int, n: int) -> dict:
    """label vs star components as component DIAMETER grows at a fixed
    edge budget (r10 verdict item 4).  Two axes in one probe:

    * default-choice evidence: on the dup-shaped arm (diameter 15,
      chains of 16 — already the worst REALISTIC dup shape; cliques
      converge in 1 round) compare label vs star wall time.  If label
      wins here, it stays connected_components' first choice.
    * diameter growth: the same total edges re-wired into chains of 50
      (diameter 49, past the default max_iter=25, where the default
      call falls back to star).  label's round count grows with the
      diameter; star's stays O(log n) — star must converge with wall
      time far below label-at-49's extrapolation.

    Total edge count is FIXED across arms so any wall-time movement is
    round structure, not data volume."""
    from spreadsheet_etl_engine_spark.operators.dedup import connected_components

    def chains(chain_len: int) -> DataFrame:
        n_chains = max(1, n // (chain_len - 1))
        return synth_chain_edges(spark, n_chains, chain_len=chain_len)

    def dup_stars(members_per_cluster: int = 10) -> DataFrame:
        # What duplicate_cluster_edges actually emits: min-id star
        # edges per cluster (diameter 2) — the REAL dup workload the
        # default must serve, vs the chain arms below (diameter = the
        # algorithmic stressor).
        m = members_per_cluster
        return spark.range(n).select(
            (F.xxhash64(F.expr(f"id div {m}") * (m + 1))).alias("id_a"),
            (F.xxhash64(F.expr(f"id div {m}") * (m + 1)
                        + F.col("id") % m + 1)).alias("id_b"),
        )

    def run(edges: DataFrame, max_iter: int):
        return connected_components(
            edges, max_iter=max_iter
        ).agg(F.countDistinct("component")).collect()

    # label: 60 rounds cover every arm's diameter; star: one label round
    # leaves labels moving on any graph with an edge, which forces the
    # star fallback.
    label, star = 60, 1
    edup, e16, e50 = dup_stars(), chains(16), chains(50)
    t_label_dup, t_star_dup = ab_medians(
        lambda: run(edup, label), lambda: run(edup, star), reps)
    t_label16, t_star16 = ab_medians(
        lambda: run(e16, label), lambda: run(e16, star), reps)
    t_label50, t_star50 = ab_medians(
        lambda: run(e50, label), lambda: run(e50, star), reps)
    return {
        "probe": "components_label_vs_star", "edges": n,
        "t_label_dup": round(t_label_dup, 2),
        "t_star_dup": round(t_star_dup, 2),
        "t_label_d15": round(t_label16, 2), "t_star_d15": round(t_star16, 2),
        "t_label_d49": round(t_label50, 2), "t_star_d49": round(t_star50, 2),
        "label_growth_d15_to_d49": round(t_label50 / t_label16, 2),
        "star_growth_d15_to_d49": round(t_star50 / t_star16, 2),
    }


def probe_statefulstream(spark: SparkSession, reps: int, n: int) -> dict:
    """running_user_totals (a streaming aggregation) as a REAL
    availableNow stream at n and 10n events, users growing with the
    corpus (n/100 keys): state rows and per-batch state updates grow 10x
    while the file/trigger layout (8 files, 2 per trigger = 4
    micro-batches) stays fixed, so the ratio measures per-batch state
    and transfer growth, not micro-batch scheduling.  Sink is noop
    (full execution, no materialization); each run gets a fresh
    temp checkpoint so state never carries across reps."""
    import shutil
    import tempfile

    from spreadsheet_etl_engine_spark.streaming import events as SE

    arm_dirs: list[str] = []

    def make_arm(size: int):
        n_users = max(1, size // 100)
        ev = spark.range(size).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("id") % 86_400).alias("ts"),
            (F.col("id") % n_users).alias("user_id"),
            F.lit("view").alias("event_type"),
            ((F.col("id") % 1_000) / 100.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        base = tempfile.mkdtemp(prefix=f"statefulstream_{size}_")
        arm_dirs.append(base)  # removed in the finally below (r11 ADVICE:
        # mkdtemp leaked ~2.2M-row parquet arms across probe runs)
        src = base + "/in"
        ev.repartition(8).write.mode("overwrite").parquet(src)

        def run():
            q = (
                SE.running_user_totals(
                    SE.read_event_stream(spark, src, max_files_per_trigger=2))
                .writeStream.format("noop")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        return run

    try:
        t1, t10 = ab_medians(make_arm(n), make_arm(10 * n), reps)
    finally:
        for d in arm_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return {"probe": "stateful_stream_totals", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


def synth_keyed_events(spark: SparkSession, n: int, *,
                       events_per_key: int = 100,
                       span_hours: int = 500) -> DataFrame:
    """n timestamped events over n/events_per_key keys, each key's events
    hash-scattered across a fixed ``span_hours`` window: the gap-fill
    grid is keys x span buckets, so it grows LINEARLY with keys (and so
    with n), never keys^2."""
    n_keys = max(1, n // events_per_key)
    ts = F.timestamp_seconds(
        F.lit(1_700_000_000)
        + (F.abs(F.xxhash64(F.col("id"))) % (span_hours * 3600))
    )
    return spark.range(n).select(
        (F.col("id") % n_keys).alias("k"), ts.alias("ts"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def probe_gapfill(spark: SparkSession, reps: int, n: int) -> dict:
    """resample_gapfill at n and 10n events (keys grow 10x, per-key span
    fixed): the grid explode is per-key sequence work, so wall time must
    track the 10x grid growth, not blow up combinatorially.  The r9
    span-cap guard is IN the measured path both arms (it is a per-KEY
    min/max comparison on the grouped frame, O(keys) rows, not a
    per-grid-row cost)."""
    from spreadsheet_etl_engine_spark.operators.relational import resample_gapfill

    arms = {}
    for label, size in (("n", n), ("10n", 10 * n)):
        ev = synth_keyed_events(spark, size)
        # Sum the FILLED column (not count(*)): the consumer must touch
        # v_filled so Catalyst cannot prune the forward-fill window out
        # of the measured plan.
        arms[label] = lambda e=ev: resample_gapfill(
            e, key_col="k", ts_col="ts", value_col="v"
        ).agg(F.sum("v_filled"), F.sum("n_events")).collect()
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    return {"probe": "resample_gapfill", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


def synth_asof_sides(spark: SparkSession, n: int, *,
                     n_keys: int = 1000) -> tuple[DataFrame, DataFrame]:
    """n left 'trades' + n right 'quotes' over a FIXED key population:
    growing n grows rows-per-key 10x, so the probe measures the window
    sort the union-and-window asof actually pays (per-key n log n),
    not key-count parallelism."""
    left = spark.range(n).select(
        (F.col("id") % n_keys).alias("k"),
        (F.abs(F.xxhash64(F.col("id"))) % 1_000_000_000).alias("ts"),
        (F.col("id") % 97).cast("double").alias("lv"),
    )
    right = spark.range(n).select(
        (F.col("id") % n_keys).alias("k"),
        (F.abs(F.xxhash64(F.col("id"), F.lit(7))) % 1_000_000_000).alias("ts"),
        (F.col("id") % 89).cast("double").alias("rv"),
    )
    return left, right


def probe_asof(spark: SparkSession, reps: int, n: int) -> dict:
    """asof_join at n and 10n rows per side, fixed 1000 keys: ONE
    shuffle on the by-key regardless of size, then a per-key sort of
    2n/1000 union rows — the r9 determinism rework (whole-row struct
    carry, total tie order) is IN the measured path, so a regression
    that makes the struct ordering super-linear (or reintroduces a
    per-column carry that ships right values twice) moves this ratio.
    The consumer sums BOTH a left and a carried right column so the
    forward-fill window cannot be pruned from the plan."""
    from spreadsheet_etl_engine_spark.operators.relational import asof_join

    arms = {}
    for label, size in (("n", n), ("10n", 10 * n)):
        l, r = synth_asof_sides(spark, size)
        arms[label] = lambda l=l, r=r: asof_join(
            l, r, on="ts", by="k", right_cols={"rv": "rv"}
        ).agg(F.sum("rv"), F.sum("lv")).collect()
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    return {"probe": "join_asof_union_window", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


_MEGA_TEXT = " ".join(f"boiler{i}" for i in range(30))


def synth_megadup_docs(spark: SparkSession, n: int) -> DataFrame:
    """Half the corpus is ONE byte-identical 30-token boilerplate doc (the
    mega-duplicate cluster grows WITH the data — the crawl pathology),
    the other half unique docs over an n-scaled vocabulary."""
    words = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda i: F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(F.col("id"), i)) % F.lit(n * 30)).cast("string"),
        ),
    )
    text = F.when(F.col("id") % 2 == 0, F.lit(_MEGA_TEXT)).otherwise(
        F.concat_ws(" ", words)
    )
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def probe_megadup(spark: SparkSession, reps: int, n: int) -> dict:
    """duplicate_clusters at n and 10n docs where HALF the corpus is one
    byte-identical mega-cluster (it grows 10x with the data): the
    all-pairs naive form is quadratic in the cluster — C(n/2, 2) pairs
    per band, 5e7 at the small arm and 5e9 at the big, unrunnable — so
    only the collapsed path is timed and its ratio must stay ~linear.
    The consumer counts both nodes and distinct components so the star
    edges and the rep pairs are both in the measured plan."""
    from spreadsheet_etl_engine_spark.operators.dedup import duplicate_clusters

    arms = {}
    for label, size in (("n", n), ("10n", 10 * n)):
        docs = synth_megadup_docs(spark, size)
        arms[label] = lambda d=docs: duplicate_clusters(
            d, "text", "doc_id", num_hashes=8, bands=4,
        ).agg(F.countDistinct("component"), F.count("*")).collect()
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    return {"probe": "duplicate_clusters_megadup", "n": n,
            "t_n": round(t1, 2), "t_10n": round(t10, 2),
            "ratio": round(t10 / t1, 2)}


def synth_media_distributed(spark: SparkSession, n: int) -> DataFrame:
    """Distributed deterministic media corpus: ONE mapInPandas over
    spark.range (no driver-side rows) emitting real container bytes
    derived from the row id — images cycle truecolor / palette /
    16-bit / Adam7 PNG / baseline JPEG / progressive JPEG / G4-scan
    TIFF / LZW TIFF / bilevel-TILED-G4 TIFF / planar-2 TIFF (the two
    r13 layouts — per-tile CCITT decode is the heaviest per-row
    kernel, so the curve must include it), videos cycle 4-frame
    animated GIF / AVI-DIB / AVI-MJPEG (r15 — per-frame JFIF entropy
    decode under the curve), audio cycles PCM16 / G.711 mu-law /
    IMA ADPCM / MS ADPCM WAV
    (r14 — the block decoders' sequential-within-block loop must sit
    under the curve: a per-sample Python regression there would read
    as a superlinear wall blowup)."""
    from spreadsheet_etl_engine_spark.operators.multimodal import MEDIA_SCHEMA

    def gen(batches):
        import numpy as np
        import pandas as pd

        from spreadsheet_etl_engine_spark.functions import gif_codec as GC
        from spreadsheet_etl_engine_spark.functions import media_codecs as MC

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = ("image", "audio", "video")[i % 3]
                if kind == "image":
                    h, w = 12, 16
                    img = ((np.arange(h * w * 3).reshape(h, w, 3) * (i + 1))
                           % 256).astype(np.uint8)
                    c = (i // 3) % 10
                    if c == 0:
                        payload = MC.encode_png(img)
                    elif c == 1:
                        idx = (img[:, :, 0] % 16).astype(np.uint8)
                        pal = ((np.arange(48) * 5 + i) % 256
                               ).astype(np.uint8).reshape(16, 3)
                        payload = MC.encode_png_palette(idx, pal, depth=4)
                    elif c == 2:
                        payload = MC.encode_png(
                            (img[:, :, 0].astype(np.uint16) * 257))
                    elif c == 3:
                        payload = MC.encode_png(img, interlace=True)
                    elif c == 4:
                        payload = MC.encode_jpeg(img, quality=85)
                    elif c == 5:
                        payload = MC.encode_jpeg_progressive(img, quality=85)
                    elif c == 6:
                        payload = MC.encode_tiff(
                            (img[:, :, 0] > 128).astype(np.uint8) * 255,
                            compression="g4", bilevel=True)
                    elif c == 7:
                        payload = MC.encode_tiff(img, compression="lzw",
                                                 predictor=True)
                    elif c == 8:
                        payload = MC.encode_tiff(
                            (img[:, :, 0] > 128).astype(np.uint8) * 255,
                            compression="g4", bilevel=True, tile=(8, 8))
                    else:
                        payload = MC.encode_tiff(img, planar=True,
                                                 compression="packbits")
                elif kind == "audio":
                    t = np.arange(256 + i % 64)
                    wave = ((1000 if i % 6 else 20000)
                            * np.sin(t * ((i % 7) + 1) * 0.1)
                            ).astype(np.int16)
                    ac = (i // 3) % 4
                    payload = MC.encode_wav(
                        wave, 16000,
                        codec=(None, "mulaw", "ima_adpcm",
                               "ms_adpcm")[ac],
                        block_align=32 if ac >= 2 else None)
                else:
                    vc = (i // 3) % 3
                    if vc == 0:
                        pal = ((np.arange(48) * 3 + i) % 256
                               ).astype(np.uint8).reshape(16, 3)
                        frames = ((np.arange(4 * 12 * 16)
                                   .reshape(4, 12, 16)
                                   * (i + 1)) % 16).astype(np.uint8)
                        payload = GC.encode_gif(frames, pal)
                    else:
                        # r15: the AVI container joins the curve — DIB
                        # (buffer-view frames) and MJPEG (per-frame JFIF
                        # entropy decode, the heaviest video kernel).
                        rgb = ((np.arange(4 * 12 * 16 * 3)
                                .reshape(4, 12, 16, 3)
                                * (i + 1)) % 256).astype(np.uint8)
                        payload = MC.encode_avi(
                            rgb, codec="dib" if vc == 1 else "mjpeg")
                rows.append((i, kind, payload, i % 7))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "source_doc"])

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def probe_media(spark: SparkSession, reps: int, n: int) -> dict:
    """The Arrow media pipeline end-to-end: metadata sweep
    (decode_media — O(header) probes), feature extraction (full pixel
    decode of every container incl. progressive JPEG and GIF first
    frames), and sampled-frame decode (the frame_sample plan joined
    back to the GIF bytes).  Embarrassingly parallel per Arrow batch —
    the curve must track the data ratio."""
    from spreadsheet_etl_engine_spark.operators import multimodal as MM

    arms = {}
    cached = []
    for label, size in (("n", n), ("10n", 10 * n)):
        media = synth_media_distributed(spark, size).cache()
        media.count()          # materialize: generation cost excluded
        cached.append(media)

        def run(m=media):
            MM.decode_media(m).agg(F.sum("n_bytes")).collect()
            MM.extract_features(m).agg(
                F.sum(F.element_at("feature", 1))).collect()
            MM.decode_sampled_frames(m, every_k=2).count()

        arms[label] = run
    t1, t10 = ab_medians(arms["n"], arms["10n"], reps)
    for m in cached:
        m.unpersist()
    return {"probe": "multimodal_pipeline", "n": n, "t_n": round(t1, 2),
            "t_10n": round(t10, 2), "ratio": round(t10 / t1, 2)}


PROBES = {
    "ngram": (probe_ngram, 10_000),
    "paragraph": (probe_paragraph, 200_000),
    "ivf": (probe_ivf, 10_000),
    "ivfpq": (probe_ivfpq, 10_000),
    "salted": (probe_salted, 2_000_000),
    "components": (probe_components, 2_000),
    # 1M events -> ~5M grid rows in the small arm: large enough that the
    # grid explode (not session overhead) is what the ratio measures.
    "gapfill": (probe_gapfill, 1_000_000),
    # 500k/side -> 1M union rows small arm: the window sort dominates.
    "asof": (probe_asof, 500_000),
    # 20k docs -> 10k-copy mega-cluster small arm (100k-copy at 10n):
    # the all-pairs form would emit C(cluster,2) pairs per band —
    # unrunnable at the big arm, which is the point of the collapse.
    "megadup": (probe_megadup, 20_000),
    # 30k edges fixed across arms: enough that per-round shuffles (not
    # session overhead) dominate, small enough that label's 49-diameter
    # arm (50 rounds) finishes in probe time.
    "stardiam": (probe_stardiam, 30_000),
    # 200k events -> 2k users small arm: 4 fixed micro-batches, so the
    # per-batch stateful work (not trigger scheduling) sets the ratio.
    "statefulstream": (probe_statefulstream, 200_000),
    # 2k vectors / 8 centroids small arm (~250-row clusters, the
    # fixture's density); the big arm scales BOTH 10x per the SemDeDup
    # operating discipline, so the pair term n²/nlist grows ~linearly.
    "semantic": (probe_semantic, 2_000),
    # n = COLUMN count (60 -> 600 at fixed 50k rows): the per-column-
    # expression operators' plan-build + execution growth on wide
    # feature tables.
    "wideschema": (probe_wideschema, 60),
    # 10k media rows small arm (~3.3k images / GIFs / WAVs each): the
    # per-row Python codec work (not session overhead) sets the ratio;
    # the pipeline is embarrassingly parallel per Arrow batch.
    "media": (probe_media, 10_000),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    # nargs='+' + choices: a bare `--probe` used to run NOTHING and
    # exit 0 (vacuous green), and a typo died with a raw KeyError
    # (r9 lattice review).
    ap.add_argument("--probe", nargs="+", choices=list(PROBES),
                    default=list(PROBES))
    args = ap.parse_args()
    spark = _spark()
    rc = 0
    for name in args.probe:
        fn, n = PROBES[name]
        out = fn(spark, args.reps, n)
        print(json.dumps(out), flush=True)
        # Drained-path gates (currently: salted's 1.5x comparative) —
        # a probe may declare its own verdict in a "gate" field.
        if out.get("gate") == "FAIL":
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
