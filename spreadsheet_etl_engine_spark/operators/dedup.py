"""Deduplication operators for training-data pipelines, designed for the
100 TB path:

* **exact** — hash groupBy on the content (or a content hash): one shuffle
  on a high-cardinality key; AQE handles skew.
* **MinHash + LSH** — per-row signatures during the scan (no shuffle),
  banding, then a self-join *per band bucket* so candidate generation is
  O(colliding pairs), never the O(n²) cross join.
* **SimHash** — per-row 32-bit sketch; near-dup = small Hamming distance
  within LSH buckets (prefix bucketing here).
* **n-gram Jaccard** — exact verification via an inverted shingle index
  (explode → join on shingle → count shared), with a document-frequency
  cap to keep the index join skew-free at scale.
* **embedding near-dup** — cosine threshold over LSH buckets (see
  operators/similarity.py for the ANN machinery).

All hash functions are the portable md5 family from functions/text.py so
results are reproducible in the DuckDB oracles; swap ``seeded_hash`` for
``fast_hash`` (xxhash64) when oracle portability is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.functions import text as TXT
from spreadsheet_etl_engine_spark.functions import vectors as VEC


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative per exact content value.

    At scale, group on md5(content) rather than the full content to keep
    shuffle rows small; the probability of a 128-bit collision is
    negligible next to data-corruption rates.

    NULL-content semantics (deliberate, shared by ``keep_best_dedup``):
    group-by NULL equality puts every NULL-content row in ONE group, so
    missing documents dedup against each other like any other identical
    value.  If missing-ness must not count as duplication, gate the
    input with a ``not_null`` constraint (operators/quality.py) upstream
    — silently special-casing NULL here would diverge from every SQL
    GROUP BY oracle.
    """
    return df.groupBy(content_col).agg(
        F.min(id_col).alias(id_col),
        F.count("*").alias("n_copies"),
    )


# Mersenne prime 2^31-1: the classic universal-hash modulus.  Affine
# constants (a_i, b_i) derive from fixed multipliers so the whole family is
# reproducible in any engine with 64-bit integer arithmetic (a_i < P and
# base < P keep every product under 2^62 — no overflow).
MINHASH_P = 2_147_483_647


def minhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    return [
        ((2 * i + 1) * 2_654_435_761 % MINHASH_P, (i + 1) * 40_503 * 65_537 % MINHASH_P)
        for i in range(num_hashes)
    ]


def minhash_signature(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    shingle_k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """Per-document MinHash signature columns ``h0..h{k-1}`` (Broder
    construction: one 32-bit base hash per shingle, then ``num_hashes``
    affine permutations ``(a*h + b) mod P`` — k cheap integer ops instead
    of k full hashes per shingle).

    Entirely per-row: signatures are computed during the scan with zero
    shuffles.  All k minima are maintained in ONE fold over the base-hash
    array — Catalyst's CollapseProject would otherwise inline the base
    expression (shingling + md5 per element) into every h_i column and
    recompute it k times, since interpreted HOFs get no subexpression
    elimination.  Documents with fewer than ``shingle_k`` tokens have no
    shingles and are dropped (they cannot be meaningfully min-hashed;
    callers route them to exact dedup instead).

    ``parallelism`` repartitions the input first — useful when the source
    is a single small file locally; on a real cluster the scan is already
    split and this should stay None.
    """
    # Drop un-shingle-able docs with a CHEAP predicate before the shuffle.
    # Filtering on the signature sentinel instead would push the entire
    # fold below the repartition exchange (filter pushdown) and evaluate
    # it twice — once single-task pre-shuffle, once post-shuffle.
    df = df.filter(F.size(TXT.tokens(F.col(content_col))) >= shingle_k)
    if parallelism:
        df = df.repartition(parallelism)
    shingles = TXT.word_shingles(F.col(content_col), shingle_k)
    base = F.transform(shingles, lambda s: TXT.hash32(s) % MINHASH_P)

    consts = minhash_constants(num_hashes)
    a_vec = F.array(*[F.lit(a).cast("long") for a, _ in consts])
    b_vec = F.array(*[F.lit(b).cast("long") for _, b in consts])
    # (h*a + b) % P < P always, so P is a safe "no shingles" sentinel.
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes)
    idx = F.sequence(F.lit(1), F.lit(num_hashes))
    mins = F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda m, i: F.least(
                m,
                (h * F.element_at(a_vec, i.cast("int"))
                 + F.element_at(b_vec, i.cast("int"))) % MINHASH_P,
            ),
        ),
    )
    return df.select(
        F.col(id_col),
        *[F.element_at(mins, i + 1).alias(f"h{i}") for i in range(num_hashes)],
    )


def _validate_banding(num_hashes: int, bands: int) -> None:
    """Shared banding invariant: a silent remainder drops hashes (recall
    below configured), and num_hashes <= 0 passes the modulus check
    (0 % 4 == 0) while giving every doc the same empty band hash — the
    all-pairs blowup LSH exists to prevent.  Raised from every entry
    point (incl. direct seen_dedup_index / band_keys_from_signature use)
    so no caller can reach the degenerate join."""
    if bands < 1 or num_hashes < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must evenly divide num_hashes={num_hashes} "
            "with at least one hash per band"
        )


def minhash_band_keys(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """``(id, band_id, band_hash)`` LSH bucket keys — the shared banding
    step behind the self-join (:func:`minhash_lsh_pairs`), the
    vs-seen-corpus (:func:`incremental_dedup`) and the maintained-index
    (:func:`seen_dedup_index`) paths.  One row per (document, band);
    signatures stay per-row, the explode is narrow."""
    _validate_banding(num_hashes, bands)
    sig = minhash_signature(
        df, content_col, id_col,
        num_hashes=num_hashes, shingle_k=shingle_k, parallelism=parallelism,
    )
    return band_keys_from_signature(sig, id_col, num_hashes=num_hashes, bands=bands)


def band_keys_from_signature(
    sig: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Banding step over an already-computed signature frame
    (``h0..h{num_hashes-1}`` columns) — shared by
    :func:`minhash_band_keys` and :func:`duplicate_clusters`, which
    derives band keys for signature-group REPRESENTATIVES without
    re-minhashing (the group-by already shuffled the signature columns;
    re-shingling the content would rescan the corpus)."""
    _validate_banding(num_hashes, bands)
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("band")).select(
        F.col(id_col), F.col("band.band_id"), F.col("band.band_hash")
    )


def _content_hash(content_col: str) -> "F.Column":
    """NULL-safe content hash for the incremental-dedup index/probe
    pair: ``md5(NULL)`` is NULL and never equi-joins, which silently
    exempted missing documents from exact-dup detection while
    :func:`exact_dedup`'s GROUP BY dedups them against each other (r9
    review find).  NULL content maps to a reserved token that cannot
    collide with a real digest (not 32 hex chars)."""
    return F.coalesce(
        F.md5(F.col(content_col).cast("string")), F.lit("__NULL_CONTENT__")
    )


def seen_dedup_index(
    seen: DataFrame,
    content_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    parallelism: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Reduce an ingested corpus to its dedup index: ``(distinct content
    hashes [_h], distinct LSH band keys [band_id, band_hash])`` — both
    orders of magnitude smaller than the raw text.  Persist these as
    tables and union each accepted batch's own hashes/keys in, and
    :func:`incremental_dedup` never touches the seen corpus's raw text
    again (pass them via ``seen_index``)."""
    content_hash = _content_hash(content_col)
    hashes = seen.select(content_hash.alias("_h")).distinct()
    band_keys = minhash_band_keys(
        seen, content_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        parallelism=parallelism,
    ).select("band_id", "band_hash").distinct()
    return hashes, band_keys


def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame | None,
    content_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    parallelism: int | None = None,
    seen_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Annotate every NEW-batch document against the already-ingested
    corpus: ``is_exact_dup`` (identical content exists in ``seen``) and
    ``is_near_dup`` (shares ≥1 MinHash LSH band bucket with a seen doc).

    The continuous-ingestion shape at 100 TB: the seen corpus reduces to
    distinct content hashes and distinct band keys, and the batch probes
    them with two semi joins — per-batch cost scales with the batch, not
    the corpus.  Passing ``seen`` recomputes that reduction from raw text
    each call; to maintain it incrementally instead, build it once with
    :func:`seen_dedup_index`, persist, and pass it as ``seen_index``
    (with ``seen=None``) — then the raw seen text is never re-scanned.
    Documents too short to shingle (< ``shingle_k`` tokens) have no band
    keys and can only be exact dups — the same routing rule as
    :func:`minhash_signature`.
    """
    if bands < 1 or num_hashes < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must evenly divide num_hashes={num_hashes} "
            "with at least one hash per band"
        )
    if (seen is None) == (seen_index is None):
        raise ValueError(
            "pass exactly one of seen= (raw corpus) or seen_index= "
            "(precomputed seen_dedup_index result)"
        )
    kw = dict(num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
              parallelism=parallelism)
    if seen_index is None:
        seen_index = seen_dedup_index(seen, content_col, id_col, **kw)
    seen_hashes, seen_bands = seen_index
    content_hash = _content_hash(content_col)
    exact_ids = (
        batch.select(F.col(id_col), content_hash.alias("_h"))
        .join(seen_hashes, "_h", "left_semi")
        .select(id_col)
        .withColumn("is_exact_dup", F.lit(True))
    )
    near_ids = (
        minhash_band_keys(batch, content_col, id_col, **kw)
        .join(seen_bands, ["band_id", "band_hash"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        batch.select(id_col)
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .na.fill({"is_exact_dup": False, "is_near_dup": False})
    )


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    Signature rows explode into ``bands`` (band_id, band_hash) keys — a
    single shuffle — and pairs are generated inside each bucket only.
    Returns distinct (id_a, id_b) with id_a < id_b.  At 100 TB the bucket
    join is the standard LSH pattern: the shuffle key (band_id, band_hash)
    is uniform under md5, and oversized buckets (degenerate content) can
    be capped with a count filter before the self-join.
    """
    _validate_banding(num_hashes, bands)
    bucketed = minhash_band_keys(
        df, content_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        parallelism=parallelism,
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def simhash_sketch(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Per-document 32-bit SimHash (per-row expressions, no shuffle).

    Two-step select so the token-hash array is computed once and shared by
    the 32 unrolled bit terms instead of being re-derived per bit.

    NULL content is filtered (same routing rule as minhash's
    unshingleable docs: a missing document cannot be meaningfully
    sketched — send it to exact dedup).  Without the filter the fold
    yields a NULL sketch whose NULL segments silently join nowhere in
    ``simhash_hamming_pairs`` — and a SQL oracle's CASE chain yields 0
    for the same doc, a latent parity break.
    """
    df = df.filter(F.col(content_col).isNotNull())
    hashed = df.select(F.col(id_col), TXT.token_hashes(F.col(content_col)).alias("_th"))
    return hashed.select(
        F.col(id_col), TXT.simhash32_from_hashes(F.col("_th")).alias("simhash")
    )


def simhash_hamming_pairs(
    sketches: DataFrame,
    *,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 6,
    bits: int = 32,
) -> DataFrame:
    """Near-duplicate pairs with Hamming distance <= ``max_hamming`` over
    a SimHash sketch — via pigeonhole segment buckets, never all-pairs.

    Split the ``bits``-bit sketch into ``max_hamming + 1`` segments: two
    sketches within Hamming ``max_hamming`` differ in at most
    ``max_hamming`` bit positions, so AT LEAST ONE segment is untouched
    and equal on both sides (pigeonhole) — candidates are exactly the
    pairs agreeing on some ``(segment_idx, segment_value)`` key, found
    with an equi-join (one shuffle), then verified with the exact
    ``bit_count(xor)``.  Lossless: same result set as the quadratic
    self-join, but O(colliding pairs) instead of O(n^2) — the candidate
    cut grows with corpus diversity (near-identical synthetic corpora
    collide heavily; real web text does not).
    """
    nseg = max_hamming + 1
    seg_w = -(-bits // nseg)  # ceil: last segment may be narrower
    mask = (1 << seg_w) - 1
    segs = F.array(*[
        F.shiftright(F.col(sim_col), k * seg_w).bitwiseAND(F.lit(mask))
        for k in range(nseg)
    ])
    s = sketches.select(
        F.col(id_col), F.col(sim_col), F.posexplode(segs).alias("seg", "val")
    )
    a = s.select(F.col(id_col).alias("id_a"), F.col(sim_col).alias("sa"),
                 "seg", "val")
    b = s.select(F.col(id_col).alias("id_b"), F.col(sim_col).alias("sb"),
                 "seg", "val")
    return (
        a.join(b, ["seg", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_df_frac: float | None = None,
    parallelism: int | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via an inverted index.

    Two exact plans, identical results:

    * ``prefix_filter=True`` (default, the scale plan) — PPJoin-style
      prefix filtering: order each doc's shingle set by ascending corpus
      frequency and index only its first ``n - ceil(t*n) + 1`` (rarest)
      shingles; any pair with Jaccard >= t MUST collide on at least one
      prefix shingle (pigeonhole over the >= ceil(t*n)-sized overlap), so
      pruning is lossless while the candidate join shrinks by one-to-two
      orders of magnitude.  A length filter (``t*max(na,nb) <=
      min(na,nb)``) prunes candidates before the intersection, computed
      via ``array_intersect`` on the two docs' full hash arrays.
      Both pruning bounds evaluate in EXACT integer arithmetic with
      ``threshold`` quantized to 1/1000 — double ``ceil(0.8*5)`` is 5,
      which would shorten the prefix and silently drop boundary pairs
      whose ``t*n`` is a whole number (the losslessness proof's edge).
    * ``prefix_filter=False`` — the plain inverted-index self-join on
      every shingle (|A∩B| via groupBy count), kept as the
      oracle-in-repo for the optimized plan.

    The index joins on a 32-bit shingle *hash*, not the shingle text:
    ~10× smaller shuffle rows at identical results (hash collisions are
    deterministic and vanishingly rare next to the threshold).
    ``max_df`` drops shingles occurring in more than that many documents
    before the join — the standard skew guard: a stop-shingle shared by
    millions of docs would otherwise dominate one join partition at scale
    (those shingles carry almost no similarity signal).  ``max_df_frac``
    is the relative form — the cap is ``ceil(frac * corpus_doc_count)``,
    computed distributively (one-row broadcast scalar, no driver-side
    count) so the same fraction scales from a 500-doc fixture to a 100 TB
    corpus.
    """
    if parallelism and df.rdd.getNumPartitions() < parallelism:
        # Conditional (r16, same rationale as semantic_dedup): widen
        # only when the scan arrives narrower than requested — on a
        # real corpus the scan is already split and an unconditional
        # repartition would shuffle the full text corpus to dodge the
        # local single-file layout.
        df = df.repartition(parallelism)
    shingles = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(TXT.word_shingles(F.col(content_col), shingle_k), TXT.hash32)
                )
            ).alias("s"),
        )
    )
    guard = max_df is not None or max_df_frac is not None
    if guard and not prefix_filter:
        dfc = shingles.groupBy("s").agg(F.count("*").alias("df"))
        if max_df is not None:
            keep = dfc.filter(F.col("df") <= max_df).select("s")
        else:
            total = df.select(F.count("*").alias("_n_docs"))
            keep = (
                dfc.crossJoin(F.broadcast(total))
                .filter(F.col("df") <= F.ceil(F.lit(max_df_frac) * F.col("_n_docs")))
                .select("s")
            )
        shingles = shingles.join(F.broadcast(keep), "s")
    if prefix_filter:
        # Rank shingles rarest-first by (corpus df, hash) — a total order,
        # so each doc's prefix is deterministic.  The max_df guard folds
        # into this same join (prefix mode already needs per-row df for
        # the ranking, so a separate keep-set pass would aggregate the
        # index twice).
        freq = shingles.groupBy("s").agg(F.count("*").alias("df"))
        ranked_src = shingles.join(freq, "s")
        if guard:
            if max_df is not None:
                ranked_src = ranked_src.filter(F.col("df") <= max_df)
            else:
                total = df.select(F.count("*").alias("_n_docs"))
                ranked_src = ranked_src.crossJoin(F.broadcast(total)).filter(
                    F.col("df") <= F.ceil(F.lit(max_df_frac) * F.col("_n_docs"))
                )
        if parallelism:
            # Spread the per-doc ranking aggregation (r16): collect_list
            # keeps every row, so the exchange is byte-small while the
            # per-group sort_array work is CPU-bound — exactly the shape
            # AQE's byte-based coalescing folds to 1-3 tasks (profiled).
            # Partial aggregation loses nothing here (nothing combines),
            # so user-pinned partitioning on the group key is free.
            ranked_src = ranked_src.repartition(parallelism, id_col)
        docs = (
            ranked_src
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("ranked"))
            .select(
                F.col(id_col),
                F.col("ranked.s").alias("arr"),
                F.size("ranked").alias("n"),
            )
            .withColumn(
                # plen = n - ceil(t*n) + 1, in EXACT integer arithmetic:
                # threshold quantizes to 1/1000 (t_mil) so ceil(t*n) is
                # floor((t_mil*n + 999)/1000) — double ceil(0.8*5) rounds
                # to ceil(4.0000000000000004) = 5, shortening the prefix
                # by one and breaking the lossless guarantee exactly when
                # t*n is a whole number (the pigeonhole boundary).
                "plen",
                F.col("n")
                - F.floor((F.lit(round(threshold * 1000)) * F.col("n") + 999)
                          / 1000).cast("int")
                + 1,
            )
        )
        # The index carries each doc's full hash array alongside its
        # prefix tokens (~0.2n of them), so the verification is inline in
        # the join output — no extra join stages to fetch arrays, and the
        # pair dedup runs on the tiny post-threshold result instead of the
        # full candidate set.
        index = docs.select(
            F.col(id_col), F.col("n"), F.col("arr"),
            F.explode(F.slice(F.col("arr"), F.lit(1), F.col("plen"))).alias("s"),
        )
        # The index feeds BOTH sides of the self-join.  No explicit
        # persist: Spark's exchange reuse (spark.sql.exchange.reuse, on
        # by default) already executes the identical shuffle subtree once
        # and reads it twice — an A/B at sf0.1 measured forced
        # MEMORY_AND_DISK persist as strictly SLOWER (storage-memory
        # writes on top of the reused exchange).  For repeated batches
        # at scale, materialize the index as a table instead.
        #
        # Explicit repartition on the join key (r16, guide §2.5 — the
        # semantic-prune treatment): the candidate join's per-pair
        # array_intersect is CPU-quadratic on tiny BYTES, so AQE's
        # byte-based coalescing folded the verify stages to 1-3 tasks
        # (profiled ~0.9 s serial of the 2.1 s query).  User-specified
        # partitioning on the high-cardinality hash key spreads it and
        # is exactly the hash distribution the join needs (no extra
        # exchange); both sides reuse the single repartitioned subtree.
        if parallelism:
            index = index.repartition(parallelism, "s")
        ia = index.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"),
                          F.col("arr").alias("arr_a"), "s")
        ib = index.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"),
                          F.col("arr").alias("arr_b"), "s")
        shared = F.size(F.array_intersect("arr_a", "arr_b"))
        return (
            ia.join(ib, "s")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                # Length filter: J >= t forces t*max(na,nb) <= min(na,nb)
                # — exact integer form (t_mil*max <= 1000*min): the double
                # product 0.8*5 lands a hair ABOVE 4 and would falsely
                # reject a genuine J = 4/5 >= 0.8 pair at the boundary.
                & (F.lit(round(threshold * 1000)) * F.greatest("n_a", "n_b")
                   <= 1000 * F.least("n_a", "n_b"))
            )
            .withColumn(
                "jaccard",
                shared.cast("double")
                / (F.col("n_a") + F.col("n_b") - shared).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            # A pair can collide on several prefix shingles: dedup the
            # (small) surviving set.
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", "jaccard")
        )
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    shared = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


CHECKPOINT_DIR_CONF = "spark.spreadsheet_etl.checkpoint.dir"


def resolve_checkpoint_dir(spark: SparkSession) -> str | None:
    """Session-conf plumbing for :func:`connected_components`'
    fault-tolerant mode (r9 verdict item 5: the parameter existed but no
    registry/pipeline caller could reach it).  Set
    ``spark.conf.set("spark.spreadsheet_etl.checkpoint.dir", "dfs:/...")``
    and every component run in the session checkpoints reliably; unset
    (default) keeps ``localCheckpoint``.  Each call gets a fresh UUID
    subdirectory so repeated runs never trip the fail-loud
    round-file-reuse guard or read each other's rounds."""
    import uuid

    root = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if root is None or root == "":
        return None
    return f"{root.rstrip('/')}/cc-{uuid.uuid4().hex}"


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FS of ``path`` (works for any
    scheme the session can write — not os-module local-only)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


# Round budget of the large-star/small-star fallback.  Star needs
# O(log n) rounds whatever the diameter: 25 finishes a 200-node chain
# with room to spare, so exhausting it means a defect, not a big graph.
_STAR_MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    _after_edges_pinned=None,
) -> DataFrame:
    """Connected components over a pair list → ``(node, component)`` with
    ``component`` = the minimum node id in the component (the canonical
    representative dedup keeps).

    This is the step that turns near-duplicate PAIRS into duplicate
    CLUSTERS.  Min-label propagation: every node starts as its own label;
    each round replaces a node's label with the minimum over its
    neighborhood; converges in O(component diameter) rounds — small for
    dup clusters, which are near-cliques.  Each round is one shuffle
    (join + groupBy on node id); per-round checkpointing truncates the
    lineage so the plan does not grow exponentially with iterations; the
    loop exits early when a round changes nothing (an observed metric on
    the round's own pin, driver-side orchestration only).

    ``max_iter`` bounds the label rounds.  If labels are still changing
    after the last one, some component's diameter exceeds ``max_iter``,
    and the call finishes with alternating large-star/small-star rounds
    (:func:`_star_components`) over the same pinned edge list: O(log n)
    rounds whatever the diameter, so long chains converge instead of
    failing.  Label propagation stays the first choice because dup
    graphs are star/clique shaped (diameter 2-3), where it needs fewer
    rounds and a lighter per-round plan (30k star edges: label 3.3 s vs
    star 3.7 s, ``scripts/scale_probe.py --probe stardiam``).  Both
    return the same min-id labels (pytest-pinned against union-find).

    ``checkpoint_dir`` selects the truncation mechanism — the difference
    is FAULT TOLERANCE, not results:

    * ``None`` (default): ``localCheckpoint`` — blocks live on executor
      storage with NO lineage to recompute them, so losing any executor
      mid-run (spot reclaim, OOM, decommission) kills the job with
      "checkpoint block not found"; it cannot silently corrupt output,
      but a long run on preemptible hardware will not survive.  Fine on
      a single-box deployment and for tests.
    * a DFS path: each round is written to ``checkpoint_dir/round-NNNNN``
      as parquet and read back — a fault-tolerant truncation with an
      EXPLICIT lifecycle.  This deliberately does NOT use
      ``DataFrame.checkpoint`` + ``setCheckpointDir``:
      ``setCheckpointDir`` is a session-GLOBAL mutation that silently
      redirects every other caller's checkpoints after we return, and
      Spark only deletes reliable checkpoint files via
      reference-tracking GC, so a multi-hour run would accumulate every
      round on DFS.  Here round N-1 is deleted as soon as round N is
      durable; on return only the symmetrized edge list (round-00000)
      and the final round remain (the result reads from them — drop the
      directory after consuming the result).  The directory must not
      already contain round files (fail-loud ``mode("error")`` — reusing
      a dir across runs would silently mix rounds).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter={max_iter} must be >= 1")
    spark = edges.sparkSession
    _round_no = 0

    def _pin(df: DataFrame) -> tuple[DataFrame, str | None]:
        nonlocal _round_no
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True), None
        path = f"{checkpoint_dir}/round-{_round_no:05d}"
        _round_no += 1
        df.write.mode("error").parquet(path)
        return spark.read.parquet(path), path

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym, _ = _pin(sym)  # referenced every round — never deleted mid-run
    if _after_edges_pinned is not None:
        # The edge lineage's own inputs are dead weight once sym is
        # durable: duplicate_clusters hooks this to delete its corpus-
        # sized signature-tags file instead of retaining it for the
        # whole of the long preemptible runs reliable mode exists for.
        _after_edges_pinned()
    labels, labels_path = _pin(
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("component", F.col("node"))
    )
    from pyspark.sql import Observation

    for _ in range(max_iter):
        # One join + ONE aggregation per round: each node's new label is
        # the min over {its own label} ∪ {neighbor labels}, so unioning
        # the self rows into the neighbor rows folds the label update
        # into the aggregation.  The self row carries the old label in
        # ``own`` (exactly one non-NULL per node; min() recovers it), so
        # the convergence flag stays in-row: labels only ever decrease,
        # so new < old ⇔ some neighbor label beat the old one.
        nbr = sym.join(
            labels.select(F.col("node").alias("b"),
                          F.col("component").alias("c")),
            "b",
        ).select(
            F.col("a").alias("node"), F.col("c").alias("component"),
            F.lit(None).cast(
                labels.schema["component"].dataType).alias("own"),
        )
        self_rows = labels.select(
            "node", "component", F.col("component").alias("own"))
        new_labels = (
            nbr.unionByName(self_rows)
            .groupBy("node")
            .agg(F.min("component").alias("component"),
                 F.min("own").alias("_old"))
            .select(
                "node", "component",
                (F.col("component") < F.col("_old")).alias("_changed"),
            )
        )
        # The convergence probe rides the pin action itself as an
        # observed metric: a separate probe job per round would add one
        # more driver-sequential job launch, the local bottleneck of
        # this loop.
        obs = Observation()
        new_labels, new_path = _pin(
            new_labels.observe(obs, F.max("_changed").alias("changed")))
        changed = bool(obs.get["changed"])  # None on an empty graph
        # The pin above was the last reader of round N-1: delete it now
        # that round N is durable (reliable mode only).
        if labels_path is not None:
            _delete_path(spark, labels_path)
        labels, labels_path = new_labels.drop("_changed"), new_path
        if not changed:
            return labels.select(F.col("node"), F.col("component"))
    # Labels still moving: a component is longer than max_iter rounds of
    # propagation can cover.  Star restarts from the pinned edges, so the
    # last label round is dead weight.
    if labels_path is not None:
        _delete_path(spark, labels_path)
    return _star_components(spark, sym, _pin)


def _star_components(spark: SparkSession, sym: DataFrame, _pin) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) over the
    pinned symmetric edge list ``sym`` → min-id ``(node, component)``
    labels.  Called only by :func:`connected_components` when label
    propagation has not converged within its ``max_iter`` rounds; the
    caller owns the checkpoint lifecycle (``_pin`` is its round-pinning
    closure) and the budget is ``_STAR_MAX_ROUNDS``.

    Each round: large-star hangs every neighbor LARGER than u off u's
    minimum; small-star re-hangs the smaller neighbors (and u itself)
    off that minimum.  Both are ONE window shuffle over narrow (u, v)
    rows — the per-partition work is a running min, spillable, never
    quadratic — and both strictly preserve connectivity while only
    ever lowering a node's parent, so the process contracts every
    component onto its minimum id in O(log n) rounds regardless of
    diameter (the paper's Theorem 3) where min-label propagation needs
    O(diameter).  Fixed point ⟺ the canonical edge set is unchanged by
    a round ⟺ the edges form stars rooted at component minima: the
    roots are then the labels.  Every edge emitted by either star op
    has parent < child by construction, so the fixed-point star set is
    directly the (node, component) map for non-root nodes; roots and
    isolated nodes (self-loop inputs) coalesce to themselves.  Not
    reaching the fixed point within the budget raises: a silent split
    would hand one duplicate cluster several canonical representatives."""
    from pyspark.sql.window import Window

    # Canonical undirected edges (hi, lo), self-loops dropped: sym holds
    # both directions, so one strict filter yields each edge once.
    E, e_path = _pin(
        sym.filter(F.col("a") > F.col("b"))
        .select(F.col("a").alias("hi"), F.col("b").alias("lo"))
        .distinct()
    )
    n_e = E.count()
    nodes = sym.select(F.col("a").alias("node")).distinct()
    w_u = Window.partitionBy("u")
    for _ in range(_STAR_MAX_ROUNDS):
        # Large-star: for each u, m = min(Γ(u) ∪ {u}); emit (v, m) for
        # v ∈ Γ(u), v > u.  m <= u < v keeps (hi, lo) canonical.
        bidir = E.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            E.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        large = (
            bidir.withColumn("m", F.least(F.min("v").over(w_u), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # Small-star on the (hi -> lo) orientation: for each u,
        # m = min of its smaller neighbors; re-hang the others and u
        # itself off m.  Again parent < child by construction.
        tagged = (
            large.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            .withColumn("m", F.min("v").over(w_u))
        )
        new_e, new_path = _pin(
            tagged.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .union(tagged.select(F.col("u").alias("hi"),
                                 F.col("m").alias("lo")))
            .distinct()
        )
        n_new = new_e.count()
        # Fixed point = set equality; both sides are distinct sets, so
        # equal counts + empty one-sided difference suffice.  The
        # difference check is the last reader of the previous round.
        converged = n_new == n_e and new_e.exceptAll(E).isEmpty()
        if e_path is not None:
            _delete_path(spark, e_path)
        E, e_path, n_e = new_e, new_path, n_new
        if converged:
            star = E.select(F.col("hi").alias("node"),
                            F.col("lo").alias("component"))
            return nodes.join(star, "node", "left").select(
                "node",
                F.coalesce("component", F.col("node")).alias("component"),
            )
    raise RuntimeError(
        f"connected_components did not converge: labels were still "
        f"changing after the label rounds and {_STAR_MAX_ROUNDS} "
        f"large-star/small-star rounds left {n_e} edges short of a fixed "
        "point, past the O(log n) bound for any realistic graph — report "
        "the graph shape"
    )


def duplicate_clusters(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    parallelism: int | None = None,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Duplicate clusters ``(node, component)`` — result-identical to
    ``connected_components(minhash_lsh_pairs(df))`` but safe under
    MEGA-DUPLICATE clusters, the dominant pathology of a 100 TB crawl
    corpus (boilerplate pages, mirrored sites: millions of byte-identical
    documents).

    The naive path's contract is all candidate PAIRS, which is inherently
    quadratic in duplicate-cluster size: one band bucket holding an
    m-document identical cluster emits m(m-1)/2 pairs — at m = 1e6 that
    is 5e11 rows out of a single bucket's self-join, and the job dies
    long before components run.  This path never materializes those
    pairs:

    1. per-row MinHash signatures (no shuffle, same as the naive path);
    2. ONE window shuffle on the signature columns yields both the
       min-id representative per signature group AND the linear STAR
       edges (representative -> member); the hot (mega-cluster)
       signature is one window partition doing a linear, spillable min
       over narrow rows — never a self-join;
    3. band keys + bucket self-join over REPRESENTATIVES only (the
       banding step reuses the shuffled signature columns — the corpus
       text is scanned exactly once, in step 1);
    4. :func:`connected_components` over (rep pairs UNION star edges).

    Result equivalence is exact, not approximate: documents with equal
    signatures share every band key, so each signature group is a clique
    in the naive pair graph with identical external adjacency —
    contracting the group to one vertex plus star edges preserves the
    component partition, the node set (a member of a >=2 group always
    has its clique edge; a lone signature appears iff it collides, same
    as naive), and the min-id labels (the representative is the group
    minimum, so the component minimum is unchanged).  Pinned by
    ``test_duplicate_clusters_equals_naive_path`` including an injected
    mega-cluster, where the edge-volume accounting shows the naive path
    quadratic and this one linear.
    """
    # Pin the tagged signature frame ONCE before the edge fan-out: the
    # window output feeds three consumers (both sides of the rep band
    # self-join + the star filter), and Spark's ReuseExchange does not
    # collapse them (verified on the executed plan: 3 corpus scans,
    # 2 window shuffles without the pin).  Same fault-tolerance story
    # as the components call below: localCheckpoint by default, an
    # explicit parquet round-trip under checkpoint_dir for preemptible
    # clusters.  The file is deleted as soon as connected_components
    # durably pins the symmetrized edge list (its last reader) — see
    # after_edges_pinned below.
    after_edges_pinned = None
    if checkpoint_dir is None:
        def _pin_tagged(t: DataFrame) -> DataFrame:
            return t.localCheckpoint(eager=True)
    else:
        tags_path = f"{checkpoint_dir}/signature-tags"

        def _pin_tagged(t: DataFrame) -> DataFrame:
            t.write.mode("error").parquet(tags_path)
            return t.sparkSession.read.parquet(tags_path)

        def after_edges_pinned() -> None:
            # signature-tags is corpus-sized (one row per shingleable
            # doc) and its last reader is the edge lineage; once
            # connected_components has durably pinned the symmetrized
            # edge list as round-00000 it is dead weight — delete it
            # there and then instead of retaining the directory's
            # largest file for the whole multi-hour run (r10 ADVICE
            # finding 2).
            _delete_path(df.sparkSession, tags_path)

    edges = duplicate_cluster_edges(
        df, content_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        parallelism=parallelism, _pin_tagged=_pin_tagged,
    )
    return connected_components(
        edges, max_iter=max_iter, checkpoint_dir=checkpoint_dir,
        _after_edges_pinned=after_edges_pinned)


def duplicate_cluster_edges(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    parallelism: int | None = None,
    _pin_tagged=None,
) -> DataFrame:
    """The edge list :func:`duplicate_clusters` feeds to components —
    ``(id_a, id_b)`` with ``id_a < id_b``, representative pairs UNION
    star edges.  Exposed separately so the plan is inspectable (the
    clusters output materializes through checkpoints, which hides the
    shape behind a Scan ExistingRDD) and so pipelines can persist the
    edge list itself.

    ``_pin_tagged`` (internal, used by :func:`duplicate_clusters`)
    materializes the window-tagged signature frame before the edge
    fan-out; without it the pure-lineage plan recomputes the corpus
    scan per consumer (kept pure here so the dumped plan shows the
    true shape)."""
    # Validated up front: num_hashes=0 would otherwise produce an empty
    # signature-column list and a degenerate zero-key join below, long
    # before band_keys_from_signature could reject it.
    _validate_banding(num_hashes, bands)
    from pyspark.sql.window import Window

    sig = minhash_signature(
        df, content_col, id_col,
        num_hashes=num_hashes, shingle_k=shingle_k, parallelism=parallelism,
    )
    hcols = [f"h{i}" for i in range(num_hashes)]
    # ONE shuffle produces both the representatives and the star edges:
    # an unordered min-over-partition window on the signature columns
    # (a groupBy + join-back costs a second shuffle of the same table —
    # measured 1.25x the whole operator at sf0.1).  The hot (mega-
    # cluster) signature lands in one window partition, but the work
    # there is a linear whole-partition min over narrow (id, h0..h7)
    # rows — spillable, never quadratic.
    w = Window.partitionBy(*hcols)
    tagged = sig.withColumn("_rep", F.min(id_col).over(w))
    if _pin_tagged is not None:
        tagged = _pin_tagged(tagged)
    star = (
        tagged.filter(F.col(id_col) != F.col("_rep"))
        # rep = min of the group, so id_a < id_b holds by construction.
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    reps = tagged.filter(F.col(id_col) == F.col("_rep")).select(id_col, *hcols)
    keys = band_keys_from_signature(
        reps, id_col, num_hashes=num_hashes, bands=bands)
    a = keys.alias("a")
    b = keys.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return rep_pairs.unionByName(star)


def random_hyperplanes(n_planes: int, dim: int, *, seed: int = 7) -> list[list[float]]:
    """Deterministic hyperplane set (numpy MT19937 — bit-stable across
    platforms, so the same planes can be embedded as literals into both
    the Spark expression and a SQL oracle)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.standard_normal(dim)] for _ in range(n_planes)]


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    planes: list[list[float]],
    bands: int,
    threshold: float = 0.95,
) -> DataFrame:
    """Banded hyperplane-LSH near-duplicate pairs — the 100 TB candidate
    path for embedding dedup.

    ``planes`` is split into ``bands`` contiguous bands of
    ``len(planes)//bands`` planes; a pair is a candidate iff it collides
    in AT LEAST ONE band (OR-amplification: recall rises with bands while
    each band key stays selective).  Plan shape: per-row band signatures
    (no shuffle) → explode to (band, sig) → one shuffle join on the band
    key → distinct candidate pairs → exact cosine filter.  Candidate
    volume is O(colliding pairs), never all-pairs; the exact quadratic
    path in :func:`embedding_neardup_pairs` is verify-only.
    """
    if bands < 1 or len(planes) % bands != 0:
        # A silent remainder would drop planes (recall below configured);
        # r=0 would make every signature 0 and the "candidate" join a full
        # cross product — the exact blowup LSH exists to avoid.
        raise ValueError(
            f"bands={bands} must evenly divide len(planes)={len(planes)} "
            "with at least one plane per band"
        )
    r = len(planes) // bands
    band_sigs = F.array(*[
        VEC.hyperplane_signature(F.col(vec_col), planes[k * r:(k + 1) * r])
        for k in range(bands)
    ])
    # Norms and double-cast arrays hoisted to the per-ROW side: inside the
    # candidate join the cosine is then one zip_with + one fold per pair
    # (HOFs run interpreted — per-pair norm recomputation tripled the
    # verify cost before this hoist).  The norm is computed BEFORE the
    # band explode (r15 review pass 12: a post-explode withColumn
    # re-evaluated the fold once per (row, band) — bands× the work the
    # comment promised).
    sigs = (
        df.select(
            F.col(id_col),
            VEC.to_double(F.col(vec_col)).alias("v"),
            band_sigs.alias("_sigs"),
        )
        .withColumn("nrm", F.sqrt(VEC.dot_precast(F.col("v"), F.col("v"))))
        .select(F.col(id_col), "v", "nrm",
                F.posexplode("_sigs").alias("band", "sig"))
    )
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"), "band", "sig")
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                    F.col("nrm").alias("nb"), "band", "sig")
    # Zero-vector contract (matches VEC.cosine): 0.0, never a NULL that
    # silently fails the threshold filter.
    den = F.col("na") * F.col("nb")
    cosine = F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(
        VEC.dot_precast(F.col("va"), F.col("vb")) / den)
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
        .dropDuplicates(["id_a", "id_b"])
        .filter(cosine >= threshold)
        .select("id_a", "id_b", cosine.alias("cosine"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold.

    With ``planes`` given, candidates are restricted to equal
    random-hyperplane LSH signatures (scale path: one shuffle on the
    signature, pairs within buckets).  Without planes it is the exact
    quadratic verification — only for small inputs / final verification.

    Constant-factor discipline for the pair loop (HOFs are interpreted):
    arrays pre-cast and norms computed once per ROW, so each pair costs
    one zip_with + one fold; the nested-loop's streamed side is
    repartitioned to ``parallelism`` (a small n input typically sits in
    one scan partition, which would single-thread the whole n^2 loop —
    measured 98 s → 3 s at n=2000 on local[32]).
    """
    base = df.select(
        F.col(id_col), VEC.to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", F.sqrt(VEC.dot_precast(F.col("v"), F.col("v"))))
    a = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                    F.col("nrm").alias("nb"))
    if planes is not None:
        sig = df.select(
            F.col(id_col),
            VEC.hyperplane_signature(F.col(vec_col), planes).alias("sig"),
        )
        a = a.join(sig.select(F.col(id_col).alias("id_a"), "sig"), "id_a")
        b = b.join(sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        joined = a.join(b, (F.col("sig") == F.col("sig_b")) & (F.col("id_a") < F.col("id_b")))
    else:
        if parallelism:
            a = a.repartition(parallelism)
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
    # Zero-vector contract (matches VEC.cosine): 0.0, never a NULL that
    # silently fails the threshold filter.
    den = F.col("na") * F.col("nb")
    cosine = F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(
        VEC.dot_precast(F.col("va"), F.col("vb")) / den)
    return (
        joined.filter(cosine >= threshold)
        .select("id_a", "id_b", cosine.alias("cosine"))
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    centroids: list[list[float]],
    threshold: float,
    assign: str = "kernel",
    parallelism: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster embeddings, then within each cluster prune every vector that
    is ``cosine >= threshold``-close to an earlier-ordered cluster member.

    Ordering within a cluster is (cos_to_centroid ASC, id ASC) — the
    LEAST prototypical member of a near-duplicate group is kept, the
    paper's keep-far-from-centroid rule — and "x removed" means *some*
    earlier member is within the threshold, whether or not that member
    was itself removed (the pairwise-max-over-earlier-columns semantics
    of the published implementation; deterministic, no greedy chain).

    Returns one row per input row: ``(id, cluster_id, cos_centroid,
    kept)`` — callers filter ``kept`` to materialize the pruned corpus.

    ``centroids`` come from the IVF machinery
    (operators/similarity.py:train_centroids_kmeans at scale; any pinned
    deterministic list for oracle-exact verification).  ``assign``:

    * ``"kernel"`` (default, the 100 TB path) — the Arrow-batched
      ``(batch × dim) @ (dim × nlist)`` matmul from
      operators/similarity.py:assign_centroid: per-partition, zero
      shuffle, centroids ride the closure.
    * ``"exact"`` — broadcast the centroid table and argmax the same
      sequential-fold cosine the outputs use: nlist-fold row
      amplification (verification / oracle-twin path only; equivalence
      with the kernel is pinned by tests on fixture data).

    The kernel and the fold compute the argmax over DIFFERENT float
    summation orders (blocked BLAS vs sequential), so assignments could
    in principle diverge on a near-tie; ``cos_centroid`` in the OUTPUT
    is always the sequential fold, so any such flip is a visible
    cluster_id change, never a silent value drift.

    Scale shape: assignment is per-row; the prune self-join shuffles
    once on cluster_id and costs O(Σ cluster_size²) pair cosines — the
    operating discipline (as in the paper) is nlist ∝ corpus size so
    cluster size, and with it per-cluster quadratic cost, stays bounded;
    removed-id set reduces via distinct, then one join back on id.

    ``id_col`` contract: unique and non-NULL (the same PK stance as
    ``paragraph_dedup``, enforceable upstream with a ``unique`` +
    ``not_null`` quality constraint).  On garbage ids the two assign
    paths legitimately diverge — the exact path's per-id argmax window
    collapses duplicate-id rows to one while the kernel keeps every
    row, and a NULL id can never be marked removed (the ordering
    predicate is NULL) nor joined back by a NULL-equality oracle — so
    fix the feed, don't reinterpret the output.
    """
    if assign not in ("kernel", "exact"):
        raise ValueError(f'assign must be "kernel" or "exact", got {assign!r}')
    spark = df.sparkSession
    nlist = len(centroids)
    if nlist == 0:
        raise ValueError("semantic_dedup needs at least one centroid")
    cents = spark.createDataFrame(
        [(int(k), [float(x) for x in centroids[k]]) for k in range(nlist)],
        "cluster_id int, ce array<double>",
    ).withColumn("cnrm", F.sqrt(VEC.dot_precast(F.col("ce"), F.col("ce"))))

    all_rows = df.select(
        F.col(id_col), VEC.to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", F.sqrt(VEC.dot_precast(F.col("v"), F.col("v"))))
    # NULL-embedding totality: a row with no vector cannot be clustered
    # or pruned — it surfaces with NULL cluster/cos/kept (SQL NULL-in/
    # NULL-out, same contract as the topk oracles), and never reaches
    # the Arrow kernel, whose np.stack cannot represent missing rows.
    base = all_rows.filter(F.col("v").isNotNull())
    # r15 optimization round: ``parallelism`` spreads the two CPU-bound
    # regions that otherwise serialize (measured at sf0.1: the whole
    # query ran its quadratic prune in ONE task):
    #
    # * the Arrow assignment kernel inherits the scan's partitioning —
    #   a single small file = a single Python worker; repartitioning
    #   the base rows splits it (same knob/convention as
    #   minhash_signature; row-preserving, results identical);
    # * the prune self-join has only ``nlist`` distinct keys, so its
    #   parallelism is capped at nlist whatever the cluster size — and
    #   AQE's byte-based coalescing (CPU-blind) folds the tiny-but-
    #   quadratic partitions into one.  The join is salted (guide
    #   §2.5): the removed-candidate side keeps a deterministic
    #   ``pmod(xxhash64(id), K)`` salt, the earlier-member side is
    #   exploded K ways, and both sides are EXPLICITLY repartitioned on
    #   (cluster, salt) — user-specified partitioning that AQE does not
    #   re-coalesce.  K ≈ 4·parallelism/nlist gives 4× more buckets
    #   than partitions (guide: many more distinct keys than
    #   partitions) while bounding the replication of the earlier side
    #   to K — at real scale nlist ∝ corpus keeps clusters bounded, so
    #   K stays small as parallelism and nlist grow together.  Each
    #   unordered pair still meets exactly once (y carries one salt, x
    #   spans all K), so the removed-id set is unchanged.
    if parallelism and base.rdd.getNumPartitions() < parallelism:
        # Conditional (r16, VERDICT r15 item 4): only widen when the
        # scan actually arrives NARROWER than the requested parallelism
        # (metadata probe, no job) — locally that is the single-file
        # test layout (1 scan partition × 3 evaluations of the kernel
        # lineage); on a real corpus the scan is already split and an
        # unconditional repartition would be a full-corpus embedding
        # shuffle added to dodge a local-only artifact (the same trade
        # the topk_pq notes reject).  The salted prune join below keeps
        # its own explicit repartitions either way.
        base = base.repartition(parallelism)
    null_rows = all_rows.filter(F.col("v").isNull()).select(
        F.col(id_col),
        F.lit(None).cast("long").alias("cluster_id"),
        F.lit(None).cast("double").alias("cos_centroid"),
        F.lit(None).cast("boolean").alias("kept"),
    )

    # Zero-vector contract (matches VEC.cosine): 0.0, never a NULL that
    # silently fails threshold filters / reorders the prune ordering.
    def _cos(va, na, vb, nb):
        den = na * nb
        return F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(
            VEC.dot_precast(va, vb) / den
        )

    if assign == "kernel":
        from spreadsheet_etl_engine_spark.operators import similarity as SIM

        assigned = (
            SIM.assign_centroid(base, "v", centroids)
            .withColumnRenamed("centroid_id", "cluster_id")
            .join(F.broadcast(cents), "cluster_id")
            .select(
                F.col(id_col), "v", "nrm",
                F.col("cluster_id").cast("long").alias("cluster_id"),
                _cos(F.col("v"), F.col("nrm"), F.col("ce"), F.col("cnrm"))
                .alias("cos_centroid"),
            )
        )
    else:
        from pyspark.sql.window import Window

        scored = base.crossJoin(F.broadcast(cents)).select(
            F.col(id_col), "v", "nrm",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            _cos(F.col("v"), F.col("nrm"), F.col("ce"), F.col("cnrm"))
            .alias("cos_centroid"),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.desc("cos_centroid"), F.asc("cluster_id")
        )
        assigned = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    x = assigned.select(
        F.col(id_col).alias("_idx"), F.col("v").alias("vx"),
        F.col("nrm").alias("nx"), F.col("cluster_id").alias("_cx"),
        F.col("cos_centroid").alias("_ccx"),
    )
    y = assigned.select(
        F.col(id_col).alias("_idy"), F.col("v").alias("vy"),
        F.col("nrm").alias("ny"), F.col("cluster_id").alias("_cy"),
        F.col("cos_centroid").alias("_ccy"),
    )
    earlier = (F.col("_ccx") < F.col("_ccy")) | (
        (F.col("_ccx") == F.col("_ccy")) & (F.col("_idx") < F.col("_idy"))
    )
    # One join condition with the conjuncts in evaluation order: the
    # interpreted fold cosine LAST, behind the cheap ordering predicate
    # (And short-circuits left-to-right; a post-join .filter() gets
    # pushed in FRONT of the ordering conjunct and doubles the cosine
    # evaluations — measured on the sf0.1 fixture).
    cluster_match = F.col("_cx") == F.col("_cy")
    if parallelism:
        nsalt = max(1, -(-4 * parallelism // nlist))  # ceil
        x = x.withColumn(
            "_sx",
            F.explode(F.sequence(F.lit(0).cast("long"),
                                 F.lit(nsalt - 1).cast("long"))),
        ).repartition(parallelism, "_cx", "_sx")
        y = y.withColumn(
            "_sy", F.pmod(F.xxhash64(F.col("_idy")), F.lit(nsalt))
        ).repartition(parallelism, "_cy", "_sy")
        cluster_match = cluster_match & (F.col("_sx") == F.col("_sy"))
    removed = (
        x.join(
            y,
            cluster_match
            & earlier
            & (
                _cos(F.col("vx"), F.col("nx"), F.col("vy"), F.col("ny"))
                >= F.lit(threshold)
            ),
        )
        .select(F.col("_idy").alias("_removed_id"))
        .distinct()
    )
    flagged = (
        assigned.join(
            removed, assigned[id_col] == removed["_removed_id"], "left"
        )
        .select(
            F.col(id_col), "cluster_id", "cos_centroid",
            F.col("_removed_id").isNull().alias("kept"),
        )
    )
    return flagged.unionByName(null_rows)


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_words: int = 10,
    validate_ids: bool = False,
) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup: segment every document,
    keep only the globally FIRST occurrence of each segment, reassemble.

    The boilerplate-removal stage of a training-data pipeline (headers,
    footers, licence blocks, navigation chrome repeat across millions of
    pages): document-level dedup misses them because the surrounding text
    differs.  Segmentation here is fixed ``chunk_words``-word windows —
    the corpus carries no newline structure; a real corpus would split on
    blank lines instead, changing only the chunk expression.

    "First" is deterministic and engine-portable: the minimal
    (``id_col``, chunk index) pair per distinct chunk text, not
    partition-order luck.  ``id_col`` must be unique per document (it is
    the corpus primary key) — a duplicate id would fan out the final
    join, silently multiplying output rows.  Pass ``validate_ids=True``
    to fail loud instead: one eager aggregation over the id column only
    (column-pruned scan, map-side-combined count — cheap next to the
    operator itself) raises :class:`~spreadsheet_etl_engine_spark.errors.
    EngineError` naming an offending id.  Default False is the
    documented garbage-in stance: the check costs an extra corpus scan,
    and in a pipeline the corpus PK is typically already enforced
    upstream by the quality-constraint machinery
    (``operators/quality.py``: a ``unique`` constraint on ``id_col``
    performs the identical aggregation, batched with the rest of the
    report).

    Scale shape — NO shuffle is ever chunk-table-sized (plan-asserted):
    chunking is per-row codegen (split + slice — no explode-shuffle to
    build segments); the keep-first decision is
    ``groupBy(md5(chunk)).agg(min(struct(id, idx)))`` — an algebraic
    aggregate whose partial (map-side) combine collapses every
    occurrence of a hot chunk BEFORE the shuffle, so a licence header
    repeated 10⁹ times across a 100 TB corpus costs one 12-byte struct
    per map task, not one partition's 10⁹-row sort.  (The r6 shape — a
    ``row_number`` window over ``partitionBy(md5(chunk))`` — funnelled
    exactly the high-frequency boilerplate chunks this operator targets
    into single-partition sorts that AQE cannot split.)  Chunk TEXT
    never rides the aggregation: winners reduce to per-doc kept-index
    arrays (a second aggregation over winner rows only), and the final
    doc-id join re-slices each winning doc's own text by those indices —
    per-row codegen, no join back to the chunk table.  Per-doc chunk
    totals come from the same ``ceil(size(words)/k)`` expression that
    sizes the chunk array, so the branches cannot disagree.  The second
    corpus scan this split costs reads two columns columnar-side; the
    shape it buys shuffles only hash+struct pairs and index arrays — at
    100 TB that trade is the whole operator.  (Measured at 2.4M chunks
    with 4 hot chunks × 300k copies, local[32]: within noise of the
    window shape, with none of its skew ceiling — BENCH_NOTES.md r7.)
    Output: (id, clean_text, n_chunks, n_removed) — every input doc
    survives, possibly with empty text.
    """
    k = int(chunk_words)
    if k <= 0:
        raise ValueError("chunk_words must be positive")
    if validate_ids:
        from spreadsheet_etl_engine_spark.errors import EngineError

        dup = (
            docs.groupBy(id_col).agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > 1)
            .first()
        )
        if dup is not None:
            raise EngineError(
                f'paragraph_dedup requires unique "{id_col}" per document; '
                f"id {dup[id_col]!r} appears {dup['_n']} times "
                "(the final reassembly join would fan out)"
            )
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / k).cast("int")
    chunk_arr = F.when(F.size(words) <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(words, i * k + 1, k), " "),
        )
    )
    chunks = (
        docs.select(F.col(id_col), chunk_arr.alias("_chunks"))
        .select(F.col(id_col), F.posexplode("_chunks").alias("idx", "chunk"))
    )
    # min(struct): struct comparison is field-lexicographic, so this IS
    # "order by id, idx" — deterministic, engine-portable keep-first
    # (md5 collisions aside, the standard 128-bit assumption).
    winners = chunks.groupBy(F.md5("chunk").alias("_h")).agg(
        F.min(F.struct(F.col(id_col), F.col("idx"))).alias("_w")
    )
    kept = (
        winners.groupBy(F.col("_w").getField(id_col).alias(id_col))
        .agg(F.array_sort(F.collect_list(F.col("_w").getField("idx"))).alias("_idxs"))
    )
    # Anchored on docs (left join), so a NULL-text / zero-chunk doc still
    # surfaces with (clean_text '', n_chunks 0) instead of silently
    # vanishing, and each survivor's text is re-sliced from its own
    # words by the kept indices (codegen — the chunk strings were never
    # shuffled anywhere).
    idxs = F.coalesce(F.col("_idxs"), F.array().cast("array<int>"))
    total = F.coalesce(
        F.when(F.size(words) <= 0, F.lit(0)).otherwise(n_chunks), F.lit(0)
    ).cast("long")
    return (
        docs.select(F.col(id_col), F.col(text_col))
        .join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(
                    idxs, lambda i: F.array_join(F.slice(words, i * k + 1, k), " ")
                ),
                " ",
            ).alias("clean_text"),
            total.alias("n_chunks"),
            (total - F.size(idxs)).cast("long").alias("n_removed"),
        )
    )
