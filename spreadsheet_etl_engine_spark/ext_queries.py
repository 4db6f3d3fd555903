"""[EXT] LLM-training-data-pipeline queries: dedup, similarity search,
text analysis, sessionization (SURVEY §2.2 [EXT] rows; BASELINE.json north
star).  Registered into the same driver-facing registry as the reference
surface; the md5-based hash family keeps every deterministic operator
DuckDB-oracle-checkable.  Approximate operators (IVF ANN, HLL) register
without an oracle → driver rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.functions import text as TXT
from spreadsheet_etl_engine_spark.functions.numeric import finite_or_fail
from spreadsheet_etl_engine_spark.operators import dedup as DD
from spreadsheet_etl_engine_spark.operators import similarity as SIM
from spreadsheet_etl_engine_spark.registry import register
from spreadsheet_etl_engine_spark.sources.readers import load_table

# Shared oracle CTE: word-3-gram shingles per document (matches
# functions.text.word_shingles(k=3)).
_SHINGLE_CTE = """
sh AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                  i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3
)
"""

# Portable 32-bit shingle hash (matches functions.text.hash32) reduced mod
# the MinHash prime (matches operators.dedup.minhash_signature).
_BASE_SQL = f"(CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % {DD.MINHASH_P})"

# Shared SimHash oracle SQL (hoisted like _SHINGLE_CTE so dedup_simhash
# and dedup_simhash_pairs can never drift apart).  The NULL-text filter
# mirrors simhash_sketch's routing rule.
_SIMHASH_SQL = """
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), b ->
               CASE WHEN 2 * len(list_filter(
                        list_transform(string_split(text, ' '),
                                       t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)),
                        h -> ((h >> b) & 1) = 1))
                        > len(string_split(text, ' '))
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
    FROM documents
    WHERE text IS NOT NULL
"""


def _sig_sql(num_hashes: int) -> str:
    return ", ".join(
        f"min(({_BASE_SQL} * {a} + {b}) % {DD.MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(DD.minhash_constants(num_hashes))
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup: min-id representative per content hash. One shuffle "
        "on a uniform 128-bit key; at 100 TB group on the hash, never the "
        "raw content.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("content_hash", F.md5("text"))
    return DD.exact_dedup(docs, "content_hash", "doc_id")


@register(
    "dedup_keep_best",
    oracle="""
    WITH ranked AS (
      SELECT md5(text) AS content_hash, doc_id, n_chars,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY md5(text)) AS n_copies
      FROM documents
    )
    SELECT content_hash, doc_id AS kept_doc_id,
           n_chars AS kept_n_chars, n_copies
    FROM ranked WHERE rn = 1
    """,
    doc="Survivorship dedup: keep the BEST copy per content hash (longest "
        "text, then lowest id) instead of an arbitrary one — the "
        "canonicalization step after near-dup clustering.  The argmax is "
        "a map-side-combinable struct-max AGGREGATE, not a row_number "
        "window: the window formulation sorts every group, while the "
        "struct-max reduces tree-wise, so a pathological hash with "
        "millions of copies (boilerplate pages) combines partials "
        "instead of funneling one partition through a sort.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5("text").alias("content_hash"), "doc_id", "n_chars"
    )
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_nid"))
    ).alias("_best")
    return (
        docs.groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), best)
        .select(
            "content_hash",
            (-F.col("_best._nid")).alias("kept_doc_id"),
            F.col("_best.n_chars").alias("kept_n_chars"),
            "n_copies",
        )
    )


@register(
    "dedup_minhash_signature",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id, {_sig_sql(4)}
    FROM sh GROUP BY doc_id
    """,
    doc="Per-document MinHash signatures (Broder affine family over one "
        "32-bit base hash per word-3-gram shingle), computed per-row "
        "during the scan — zero shuffles.",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_signature(
        docs, "text", "doc_id", num_hashes=4,
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_sig_sql(8)} FROM sh GROUP BY doc_id),
    b AS (
        SELECT doc_id,
               CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) AS b0,
               CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR) AS b1,
               CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) AS b2,
               CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR) AS b3
        FROM sig
    )
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM b x JOIN b y
      ON x.doc_id < y.doc_id
     AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
    """,
    doc="MinHash LSH candidate pairs (8 hashes, 4 bands x 2 rows): "
        "banding explodes to (band_id, band_hash) keys, pairs form inside "
        "buckets only — O(colliding pairs), not O(n^2).",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4,
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "dedup_incremental",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_sig_sql(8)} FROM sh GROUP BY doc_id),
    b AS (
        SELECT doc_id,
               CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) AS b0,
               CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR) AS b1,
               CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) AS b2,
               CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR) AS b3
        FROM sig
    ),
    seen_b AS (SELECT * FROM b WHERE doc_id % 2 = 0),
    new_b  AS (SELECT * FROM b WHERE doc_id % 2 = 1),
    near AS (
        SELECT DISTINCT n.doc_id FROM new_b n JOIN seen_b s
          ON n.b0 = s.b0 OR n.b1 = s.b1 OR n.b2 = s.b2 OR n.b3 = s.b3
    ),
    exact AS (
        SELECT DISTINCT d.doc_id FROM documents d
        WHERE d.doc_id % 2 = 1
          -- COALESCE: NULL-safe content hash, mirroring the engine's
          -- index (md5(NULL) never equi-joins — r9 review find)
          AND COALESCE(md5(d.text), '__NULL_CONTENT__')
              IN (SELECT COALESCE(md5(text), '__NULL_CONTENT__')
                  FROM documents WHERE doc_id % 2 = 0)
    )
    SELECT d.doc_id,
           d.doc_id IN (SELECT doc_id FROM exact) AS is_exact_dup,
           d.doc_id IN (SELECT doc_id FROM near) AS is_near_dup
    FROM documents d WHERE d.doc_id % 2 = 1
    """,
    doc="Incremental dedup — NEW batch (odd doc_id) probed against the "
        "SEEN corpus (even doc_id): exact via content-hash semi join, "
        "near via MinHash LSH band-bucket semi join.  The continuous-"
        "ingestion shape at 100 TB: the seen side reduces to distinct "
        "hashes + band keys and the batch probes it via two semi joins.  "
        "This query rebuilds that reduction per run (self-contained "
        "oracle); a production pipeline persists it once via "
        "seen_dedup_index() and passes seen_index=, so the seen corpus's "
        "raw text is never re-scanned "
        "(operators/dedup.py:incremental_dedup).",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return DD.incremental_dedup(
        batch, seen, "text", "doc_id", num_hashes=8, bands=4,
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "dedup_index_probe",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_sig_sql(8)} FROM sh GROUP BY doc_id),
    b AS (
        SELECT doc_id,
               CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) AS b0,
               CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR) AS b1,
               CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) AS b2,
               CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR) AS b3
        FROM sig
    ),
    seen0 AS (SELECT * FROM b WHERE doc_id % 3 = 0),
    bat1  AS (SELECT * FROM b WHERE doc_id % 3 = 1),
    bat2  AS (SELECT * FROM b WHERE doc_id % 3 = 2),
    near1 AS (
        SELECT DISTINCT n.doc_id FROM bat1 n JOIN seen0 s
          ON n.b0 = s.b0 OR n.b1 = s.b1 OR n.b2 = s.b2 OR n.b3 = s.b3
    ),
    near2 AS (
        SELECT DISTINCT n.doc_id FROM bat2 n
        JOIN (SELECT * FROM seen0 UNION ALL SELECT * FROM bat1) s
          ON n.b0 = s.b0 OR n.b1 = s.b1 OR n.b2 = s.b2 OR n.b3 = s.b3
    ),
    exact1 AS (
        SELECT DISTINCT doc_id FROM documents
        WHERE doc_id % 3 = 1
          AND COALESCE(md5(text), '__NULL_CONTENT__')
              IN (SELECT COALESCE(md5(text), '__NULL_CONTENT__')
                  FROM documents WHERE doc_id % 3 = 0)
    ),
    exact2 AS (
        SELECT DISTINCT doc_id FROM documents
        WHERE doc_id % 3 = 2
          AND COALESCE(md5(text), '__NULL_CONTENT__')
              IN (SELECT COALESCE(md5(text), '__NULL_CONTENT__')
                  FROM documents WHERE doc_id % 3 IN (0, 1))
    )
    SELECT d.doc_id, 1 AS batch_id,
           d.doc_id IN (SELECT doc_id FROM exact1) AS is_exact_dup,
           d.doc_id IN (SELECT doc_id FROM near1) AS is_near_dup
    FROM documents d WHERE d.doc_id % 3 = 1
    UNION ALL
    SELECT d.doc_id, 2 AS batch_id,
           d.doc_id IN (SELECT doc_id FROM exact2) AS is_exact_dup,
           d.doc_id IN (SELECT doc_id FROM near2) AS is_near_dup
    FROM documents d WHERE d.doc_id % 3 = 2
    """,
    doc="Persisted-index continuous ingestion, end-to-end: the seen "
        "corpus (doc_id % 3 == 0) reduces ONCE to its dedup index "
        "(distinct content hashes + LSH band keys, seen_dedup_index), "
        "which is WRITTEN to parquet; batch 1 probes the index read back "
        "from disk, batch 1's own hashes/keys land as a new partition "
        "directory (the production append), and batch 2 probes the "
        "grown index — the seen corpus's raw text is scanned exactly "
        "once across both batches.  Partition-dir appends keep every "
        "earlier lazy plan stable (no path is mutated under a live "
        "reader).  Oracle recomputes both probes from raw text "
        "(operators/dedup.py:seen_dedup_index, incremental_dedup).",
)
def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    kw = dict(num_hashes=8, bands=4, parallelism=par)
    tmp = tempfile.mkdtemp(prefix="dedup_index_")
    # The returned DataFrame lazily reads these files, so they must
    # outlive this call — reclaim at interpreter exit instead of leaking
    # one directory per invocation (r8 review finding).
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    hash_dir = os.path.join(tmp, "hashes")
    band_dir = os.path.join(tmp, "bands")

    def write_gen(gen_df: DataFrame, root: str, gen: int) -> None:
        gen_df.write.mode("overwrite").parquet(os.path.join(root, f"gen={gen}"))

    def read_index(upto_gen: int) -> tuple[DataFrame, DataFrame]:
        hp = [os.path.join(hash_dir, f"gen={g}") for g in range(upto_gen + 1)]
        bp = [os.path.join(band_dir, f"gen={g}") for g in range(upto_gen + 1)]
        return (
            spark.read.parquet(*hp).distinct(),
            spark.read.parquet(*bp).distinct(),
        )

    seen0 = docs.filter(F.col("doc_id") % 3 == 0)
    batch1 = docs.filter(F.col("doc_id") % 3 == 1)
    batch2 = docs.filter(F.col("doc_id") % 3 == 2)

    h0, b0 = DD.seen_dedup_index(seen0, "text", "doc_id", **kw)
    write_gen(h0, hash_dir, 0)
    write_gen(b0, band_dir, 0)
    flags1 = DD.incremental_dedup(
        batch1, None, "text", "doc_id", seen_index=read_index(0), **kw
    )
    h1, b1 = DD.seen_dedup_index(batch1, "text", "doc_id", **kw)
    write_gen(h1, hash_dir, 1)
    write_gen(b1, band_dir, 1)
    flags2 = DD.incremental_dedup(
        batch2, None, "text", "doc_id", seen_index=read_index(1), **kw
    )
    return (
        flags1.withColumn("batch_id", F.lit(1))
        .unionByName(flags2.withColumn("batch_id", F.lit(2)))
        .select("doc_id", "batch_id", "is_exact_dup", "is_near_dup")
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_sig_sql(8)} FROM sh GROUP BY doc_id),
    bnd AS (
        SELECT doc_id,
               CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) AS b0,
               CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR) AS b1,
               CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) AS b2,
               CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR) AS b3
        FROM sig
    ),
    pairs AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bnd x JOIN bnd y
          ON x.doc_id < y.doc_id
         AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    rec AS (
        WITH RECURSIVE reach(node, label) AS (
            SELECT a, a FROM sym
            UNION
            SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node
        )
        SELECT node, min(label) AS component FROM reach GROUP BY node
    )
    SELECT node, component FROM rec
    """,
    doc="Duplicate CLUSTERS from MinHash-LSH pairs: connected components "
        "via min-label propagation (one shuffle per round, lineage "
        "checkpointed, early exit on convergence) — component id = min "
        "doc_id, the canonical representative dedup keeps. Oracle walks "
        "the same graph with a recursive CTE.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # r10: routed through duplicate_clusters — result-identical to the
    # old minhash_lsh_pairs -> connected_components chain (the oracle is
    # unchanged) but mega-duplicate-safe: identical-signature groups are
    # collapsed to one representative BEFORE the bucket self-join, so a
    # million-copy boilerplate cluster costs O(m) star edges instead of
    # O(m^2) pairs.  Equivalence proof + edge accounting in
    # operators/dedup.py::duplicate_clusters and its tests.
    return DD.duplicate_clusters(
        docs, "text", "doc_id", num_hashes=8, bands=4,
        parallelism=spark.sparkContext.defaultParallelism,
        checkpoint_dir=DD.resolve_checkpoint_dir(spark),
    )


@register(
    "curation_pipeline_decisions",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_sig_sql(8)} FROM sh GROUP BY doc_id),
    bnd AS (
        SELECT doc_id,
               CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) AS b0,
               CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR) AS b1,
               CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) AS b2,
               CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR) AS b3
        FROM sig
    ),
    pairs AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bnd x JOIN bnd y
          ON x.doc_id < y.doc_id
         AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    rec AS (
        WITH RECURSIVE reach(node, label) AS (
            SELECT a, a FROM sym
            UNION
            SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node
        )
        SELECT node, min(label) AS component FROM reach GROUP BY node
    ),
    d AS (
        SELECT doc_id, coalesce(len(string_split(text, ' ')), 0) AS n_tok,
               CAST(('0x' || substr(md5('split:' || doc_id), 1, 8)) AS BIGINT)
                   % 100 AS h
        FROM documents
    ),
    -- survivorship (r9 review find): the cluster representative is the
    -- min-id member that PASSES the quality filter — the old min-id-of-
    -- cluster rule could annihilate a whole content cluster when its
    -- representative was itself dropped as short
    w AS (
        SELECT coalesce(r.component, d.doc_id) AS comp,
               min(d.doc_id) AS winner
        FROM d LEFT JOIN rec r ON d.doc_id = r.node
        WHERE d.n_tok >= 5
        GROUP BY 1
    )
    SELECT d.doc_id,
           CASE WHEN d.n_tok < 5 THEN 'drop:short'
                WHEN d.doc_id <> w.winner THEN 'drop:near_dup'
                ELSE 'keep' END AS decision,
           CASE WHEN d.n_tok >= 5 AND d.doc_id = w.winner
                THEN CASE WHEN h < 80 THEN 'train'
                          WHEN h < 90 THEN 'val' ELSE 'test' END
           END AS split
    FROM d LEFT JOIN rec r ON d.doc_id = r.node
    LEFT JOIN w ON coalesce(r.component, d.doc_id) = w.comp
    """,
    doc="The composed curation pipeline as ONE decision table: per "
        "document, drop too-short docs, drop near-dups (MinHash-LSH "
        "connected components) with SURVIVORSHIP — the cluster keeps its "
        "min-id member among those passing the quality filter, so a "
        "cluster whose min-id copy is itself dropped as short still "
        "contributes its best copy (r9 review find: the old min-id-of-"
        "cluster rule silently annihilated such clusters from the mix) — "
        "and assign the salted-hash train/val/test split to the keepers. "
        "This is the end-to-end flow a user runs: every stage is the "
        "already-verified operator (dedup_components, text_stats, "
        "train_split_assign) composed in one plan; the components output "
        "is key-joined once and the per-cluster winner is a window over "
        "that join, nothing rescans the corpus per stage.",
)
def curation_pipeline_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # Same r10 rerouting as dedup_components: the collapsed-signature
    # cluster path (mega-duplicate-safe), result-identical to the old
    # pairs -> components chain.
    comp = DD.duplicate_clusters(
        docs, "text", "doc_id", num_hashes=8, bands=4,
        parallelism=spark.sparkContext.defaultParallelism,
        checkpoint_dir=DD.resolve_checkpoint_dir(spark),
    )
    key = F.col("doc_id").cast("string")
    d = docs.select(
        "doc_id",
        # coalesce: size(split(NULL)) is NULL, which would make BOTH
        # n_tok < 5 and n_tok >= 5 NULL — a 'keep' decision with a NULL
        # split, breaking the every-keeper-gets-a-split contract.  A
        # NULL-text doc is a 0-token doc: drop:short.
        F.coalesce(F.size(TXT.tokens(F.col("text"))), F.lit(0)).alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("split:"), key)), 1, 8), 16, 10)
            .cast("long") % 100
        ).alias("h"),
    )
    j = d.join(comp, d.doc_id == comp.node, "left").withColumn(
        "_comp", F.coalesce(F.col("component"), F.col("doc_id"))
    )
    # Survivorship: the cluster representative is the min-id member that
    # PASSES the quality filter.  Min id of the whole cluster could
    # annihilate a cluster entirely: every other member dropped as
    # near_dup of a representative that was then itself dropped as short.
    # A window over the cluster needs no second join (so no adaptive
    # re-plan of one); a cluster with no passing member gets a NULL
    # winner.
    j = j.withColumn(
        "_winner",
        F.min(F.when(F.col("n_tok") >= 5, F.col("doc_id")))
        .over(Window.partitionBy("_comp")),
    )
    decision = (
        F.when(F.col("n_tok") < 5, "drop:short")
        .when(F.col("doc_id") != F.col("_winner"), "drop:near_dup")
        .otherwise("keep")
    )
    split = F.when(
        (F.col("n_tok") >= 5) & (F.col("doc_id") == F.col("_winner")),
        F.when(F.col("h") < 80, "train")
        .when(F.col("h") < 90, "val")
        .otherwise("test"),
    )
    return j.select(
        "doc_id", decision.alias("decision"), split.alias("split")
    )


@register(
    "dedup_simhash",
    oracle=_SIMHASH_SQL,
    doc="32-bit SimHash sketch per document, fully per-row (no shuffle); "
        "near-dup = small Hamming distance, bucketed by prefix at scale.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_sketch(docs, "text", "doc_id")


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    dsh AS (SELECT DISTINCT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS s
            FROM sh),
    tot AS (SELECT count(*) AS n_docs FROM documents),
    keep AS (SELECT s FROM dsh GROUP BY s
             HAVING count(*) <= (SELECT ceil(0.1 * n_docs) FROM tot)),
    dshf AS (SELECT dsh.doc_id, dsh.s FROM dsh JOIN keep USING (s)),
    cnt AS (SELECT doc_id, count(*) AS n FROM dshf GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM dshf a JOIN dshf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           c * 1.0 / (x.n + y.n - c) AS jaccard
    FROM shared JOIN cnt x ON x.doc_id = id_a JOIN cnt y ON y.doc_id = id_b
    WHERE c * 1.0 / (x.n + y.n - c) >= 0.8
    """,
    doc="Exact n-gram Jaccard pairs (3-gram shingles, tau=0.8) via an "
        "inverted shingle index; the max_df_frac=0.1 skew guard drops "
        "stop-shingles (df > 10% of corpus) before the self-join — the "
        "guard the 100 TB run needs, active here so the oracle pins it.",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.8, max_df_frac=0.1,
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "dedup_embedding_neardup",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.e, x -> x * x))) *
                  sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.45
    """,
    doc="Embedding near-duplicate pairs (cosine >= 0.45 — the fixture "
        "embeddings are near-orthogonal random vectors, so 0.45 is the "
        "highest threshold with non-empty results at every SF; an empty "
        "result would have zero discriminating power). Exact quadratic "
        "verification here; the LSH-bucketed candidate path "
        "(hyperplane signatures) is the scale route in operators/dedup.py.",
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return DD.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.45,
        parallelism=spark.sparkContext.defaultParallelism,
    )


# Deterministic hyperplanes (seed pinned) shared verbatim by the Spark
# expression and the DuckDB oracle below: 8 planes in 4 bands of 2.
_LSH_PLANES = DD.random_hyperplanes(8, 64, seed=7)
_LSH_BANDS = 4


def _lsh_band_sql(k: int, r: int = 2) -> str:
    parts = []
    for j in range(r):
        lit = "[" + ",".join(repr(v) for v in _LSH_PLANES[k * r + j]) + "]"
        parts.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(e, {lit}), "
            f"p -> p[1]*p[2])) >= 0 THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(parts)


@register(
    "dedup_embedding_lsh_pairs",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    sig AS (SELECT vec_id, e,
                   {_lsh_band_sql(0)} AS b0, {_lsh_band_sql(1)} AS b1,
                   {_lsh_band_sql(2)} AS b2, {_lsh_band_sql(3)} AS b3
            FROM v),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.e, x -> x * x))) *
                  sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cosine
        FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.42
    """,
    doc="Banded hyperplane-LSH near-dup pairs (4 bands x 2 planes, "
        "cosine >= 0.42): per-row signatures, one shuffle on the band "
        "key, exact cosine on colliding candidates only — the scale path "
        "the quadratic dedup_embedding_neardup verifies. The fixture's "
        "random embeddings are LSH-adversarial (near-orthogonal pairs "
        "collide often), so real-corpus pruning is far stronger than "
        "measured here. Oracle shares the exact plane literals.",
)
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return DD.embedding_lsh_pairs(
        emb, "embedding", "vec_id",
        planes=_LSH_PLANES, bands=_LSH_BANDS, threshold=0.42,
    )


@register(
    "dedup_semantic",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    -- cid = position in the engine's collected centroid list (ordered
    -- by vec_id, NULL embeddings skipped) — identical to vec_id on the
    -- clean fixture, renumbered the same way on NULL-variant sweeps
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        FROM v WHERE vec_id < 8 AND e IS NOT NULL
    ),
    -- CASE den=0: the engine's cosine maps a zero-norm side to 0.0
    -- (functions/vectors.py contract); DuckDB's bare 0/0 is NULL
    scored AS (
        SELECT v.vec_id, c.cid, v.e,
               CASE WHEN sqrt(list_sum(list_transform(v.e, x -> x*x))) *
                         sqrt(list_sum(list_transform(c.ce, x -> x*x))) = 0
                    THEN 0.0
                    ELSE list_sum(list_transform(list_zip(v.e, c.ce),
                                                 p -> p[1]*p[2]))
                         / (sqrt(list_sum(list_transform(v.e, x -> x*x))) *
                            sqrt(list_sum(list_transform(c.ce, x -> x*x))))
               END AS cosc
        FROM v, cents c
        WHERE v.e IS NOT NULL
    ),
    a AS (
        SELECT vec_id, cid AS cluster_id, cosc AS cos_centroid
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cosc DESC, cid) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    removed AS (
        SELECT DISTINCT y.vec_id AS rid
        FROM a x JOIN a y ON x.cluster_id = y.cluster_id
         AND (x.cos_centroid < y.cos_centroid
              OR (x.cos_centroid = y.cos_centroid AND x.vec_id < y.vec_id))
        JOIN v vx ON vx.vec_id = x.vec_id
        JOIN v vy ON vy.vec_id = y.vec_id
        WHERE CASE WHEN sqrt(list_sum(list_transform(vx.e, x -> x*x))) *
                        sqrt(list_sum(list_transform(vy.e, x -> x*x))) = 0
                   THEN 0.0
                   ELSE list_sum(list_transform(list_zip(vx.e, vy.e),
                                                p -> p[1]*p[2]))
                        / (sqrt(list_sum(list_transform(vx.e, x -> x*x))) *
                           sqrt(list_sum(list_transform(vy.e, x -> x*x))))
              END >= 0.40
    )
    -- anchored on v: NULL-embedding rows (and every row when no
    -- centroid exists) surface with NULL cluster/cos/decision — the
    -- operator's NULL-in/NULL-out totality contract
    SELECT v.vec_id, a.cluster_id, a.cos_centroid,
           CASE WHEN a.vec_id IS NULL THEN NULL
                WHEN r.rid IS NULL THEN 'keep'
                ELSE 'drop:semantic_dup' END AS decision
    FROM v LEFT JOIN a ON v.vec_id = a.vec_id
    LEFT JOIN removed r ON v.vec_id = r.rid
    """,
    doc="SemDeDup-style semantic dedup (operators/dedup.py:"
        "semantic_dedup; Abbas et al. 2023, arXiv:2303.09540): assign "
        "every embedding to its nearest centroid, then within each "
        "cluster drop any vector cosine>=0.40-close to an earlier "
        "member, ordering by (cos_to_centroid ASC, id) so the LEAST "
        "prototypical copy of a near-duplicate group survives — the "
        "cluster-level semantic prune document-level near-dup cannot "
        "express.  Centroids here are the 8 lowest-vec_id vectors "
        "(Forgy init — deterministic at every SF, so the oracle fetches "
        "the SAME centroids by self-join; production swaps in "
        "similarity.py:train_centroids_kmeans, same downstream plan).  "
        "The registry row runs the REAL scale path: Arrow-kernel matmul "
        "assignment (per-row, zero shuffle; fixture min top-2 centroid "
        "gap 4.7e-5 — ten orders above BLAS-vs-fold float noise, and "
        "the fold-based assign='exact' twin is equality-pinned in "
        "tests), one self-join shuffle on cluster_id whose pair cost is "
        "bounded by nlist ∝ corpus size, distinct removed-ids, one join "
        "back.  Output cos_centroid is always the sequential fold — "
        "bit-identical to list_sum.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()  # <= 8 rows by contract — the pinned Forgy centroids
    )
    centroids = [
        [float(v) for v in r["embedding"]]
        for r in cent_rows
        if r["embedding"] is not None
    ]
    if not centroids:
        # Degenerate corpus (empty slice / all-NULL sweep variants):
        # nothing can be assigned, every row NULL-outs.
        return emb.select(
            "vec_id",
            F.lit(None).cast("long").alias("cluster_id"),
            F.lit(None).cast("double").alias("cos_centroid"),
            F.lit(None).cast("string").alias("decision"),
        )
    out = DD.semantic_dedup(
        emb, "embedding", "vec_id", centroids=centroids, threshold=0.40,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return out.select(
        "vec_id", "cluster_id", "cos_centroid",
        F.when(F.col("kept").isNull(), F.lit(None).cast("string"))
        .when(F.col("kept"), F.lit("keep"))
        .otherwise(F.lit("drop:semantic_dup"))
        .alias("decision"),
    )


@register(
    "similarity_topk_bruteforce",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               -- CASE den=0: the engine's cosine maps a ZERO-NORM side
               -- to 0.0 (functions/vectors.py contract) while DuckDB's
               -- bare 0/0 yields NULL, which would sort NULLS LAST
               -- instead of ranking at 0.0 and return a different
               -- neighbor whenever a top-k boundary goes negative (r9
               -- review find — latent until then).  A NULL embedding,
               -- by contrast, stays NULL in BOTH engines (SQL NULL-in/
               -- NULL-out; the all-NULL sweep pins it) — hence CASE on
               -- den = 0, not a COALESCE that would swallow NULLs too.
               CASE WHEN sqrt(list_sum(list_transform(q.e, x -> x * x))) *
                         sqrt(list_sum(list_transform(c.e, x -> x * x))) = 0
                    THEN 0.0
                    ELSE list_sum(list_transform(list_zip(q.e, c.e),
                                                 p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
                            sqrt(list_sum(list_transform(c.e, x -> x * x))))
               END AS cosine
        FROM v q JOIN v c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
    doc="Exact cosine top-5 for 5 query vectors: broadcast queries, single "
        "corpus scan, per-query window rank. The exact baseline/reranker "
        "for ANN.",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.topk_bruteforce(emb, queries, "embedding", "vec_id", k=5)


@register(
    "similarity_topk_ivf",
    oracle=None,  # approximate by design (IVF probe subset): rows-only —
    # but the output embeds recall_vs_exact, computed in-query against
    # the brute-force twin on the same data, so the driver row carries
    # its own quality signal (pytest separately pins recall >= 0.8).
    doc="IVF-style ANN top-k: centroid assignment per-row, probe only the "
        "nprobe nearest centroid partitions per query — the 100 TB path "
        "(candidate volume ~ nprobe/nlist of the corpus).  Each row "
        "carries the per-query recall vs the exact brute-force top-k.",
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 5
    ivf = SIM.topk_ivf(emb, queries, "embedding", "vec_id", k=k, nlist=8, nprobe=3)
    exact = SIM.topk_bruteforce(emb, queries, "embedding", "vec_id", k=k).select(
        "query_id", "neighbor_id"
    )
    recall = (
        ivf.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg((F.count("*") / float(k)).alias("recall_vs_exact"))
    )
    return ivf.join(recall, "query_id", "left").na.fill({"recall_vs_exact": 0.0})


@register(
    "similarity_topk_pq",
    oracle=None,  # approximate by design (PQ quantization error decides
    # the candidate stage): rows-only — like the IVF row, the output
    # embeds per-query recall_vs_exact computed in-query against the
    # brute-force twin (pytest separately pins recall >= 0.8 and the
    # ADC≈cosine quantization bound).
    doc="Product-quantization ANN top-k (r14): every corpus vector "
        "compresses to m one-byte codes; the candidate scan touches "
        "only the code column (numpy LUT sums per Arrow batch, "
        "per-batch local top-C), then exact cosine reranks the "
        "C = rerank*k survivors — the memory-bound 100 TB path where "
        "raw embeddings are too big to scan per query "
        "(operators/similarity.py:topk_pq).",
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 5
    # m=8 one-byte codes on dim-64 (8x compression vs float32), 8-bit
    # codebooks, rerank 16k — measured recall@5 = 1.00 at both test
    # scales (pytest pins >= 0.8; near-random embeddings are PQ's
    # worst case, so the margin is the rerank stage's doing).
    pq = SIM.topk_pq(emb, queries, "embedding", "vec_id",
                     k=k, m=8, ksub=256, rerank=16)
    exact = SIM.topk_bruteforce(emb, queries, "embedding", "vec_id", k=k).select(
        "query_id", "neighbor_id"
    )
    recall = (
        pq.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg((F.count("*") / float(k)).alias("recall_vs_exact"))
    )
    return pq.join(recall, "query_id", "left").na.fill({"recall_vs_exact": 0.0})


@register(
    "similarity_topk_ivfpq",
    oracle=None,  # approximate by design (coarse-probe pruning AND
    # residual quantization error): rows-only — like the IVF and PQ
    # rows, the output embeds per-query recall_vs_exact computed
    # in-query against the brute-force twin (pytest separately pins
    # recall >= 0.8, determinism, the precomputed-index path, and the
    # NULL/named-error contracts).
    doc="Composed IVF-ADC ANN top-k (r15): the production FAISS "
        "IVFx,PQy shape — a coarse quantizer prunes candidate VOLUME "
        "(only nprobe/nlist of the lists reach the ADC scan; on a "
        "persisted centroid-partitioned index the same isin filter is "
        "partition pruning), residual PQ codes prune candidate WIDTH "
        "(the scan touches only (id, centroid_id, m one-byte codes)), "
        "and exact cosine reranks the C = rerank*k survivors "
        "(operators/similarity.py:topk_ivfpq).",
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 5
    # nlist=8/nprobe=4 with spill=2 replication (near-random embeddings
    # are the worst case for the coarse half), m=8 one-byte residual
    # codes, rerank 16k — measured recall@5 = 0.90/0.94 at the two test
    # scales (pytest pins >= 0.8).
    ann = SIM.topk_ivfpq(emb, queries, "embedding", "vec_id",
                         k=k, nlist=8, nprobe=4, m=8, ksub=256,
                         rerank=16, spill=2)
    exact = SIM.topk_bruteforce(emb, queries, "embedding", "vec_id", k=k).select(
        "query_id", "neighbor_id"
    )
    recall = (
        ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg((F.count("*") / float(k)).alias("recall_vs_exact"))
    )
    return ann.join(recall, "query_id", "left").na.fill({"recall_vs_exact": 0.0})


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_types,
           length(text) AS n_chars_txt,
           -- explicit whitespace class, not \\s (r9 review find: Java
           -- \\s includes \\x0B, RE2 does not — see functions/text.py)
           len(regexp_extract_all(text, '\\w+|[^\\w \\t\\n\\x0B\\f\\r]')) AS n_bpeish,
           CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
    doc="Per-document quality metrics: token/type/char/BPE-ish counts and "
        "mean token length — all per-row built-ins, no shuffle.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = TXT.tokens(t)
    return docs.select(
        "doc_id",
        TXT.token_count(t).alias("n_tokens"),
        TXT.type_count(t).alias("n_types"),
        F.length(t).alias("n_chars_txt"),
        TXT.bpeish_token_count(t).alias("n_bpeish"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
    )


def _lang_case_sql() -> str:
    langs = sorted(TXT.LANG_MARKERS)
    scores = {
        lang: (
            "len(list_filter(list_distinct(string_split(lower(text), ' ')), "
            f"t -> list_contains({list(TXT.LANG_MARKERS[lang])}, t)))"
        )
        for lang in langs
    }
    branches = []
    for lang in langs:
        conds = [f"{scores[lang]} > 0"] + [
            f"{scores[lang]} >= {scores[other]}" for other in langs if other != lang
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred FROM documents
    """,
    doc="Marker-stopword language ID heuristic (argmax hit count, "
        "deterministic tiebreak); per-row, shuffle-free.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", TXT.lang_id(F.col("text")).alias("lang_pred"))


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS bow_fp,
           list_min(list_transform(range(1, length(text) - 6),
                    i -> md5(substr(text, i, 8)))) AS min_shingle8
    FROM documents
    """,
    doc="Document fingerprints: sorted-bag md5 (catches reordered dups) "
        "and min rolling char-8-gram hash.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.bow_fingerprint(F.col("text")).alias("bow_fp"),
        TXT.min_shingle_hash(F.col("text"), 8).alias("min_shingle8"),
    )


@register(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
        -- ts IS NOT NULL mirrors Spark's session_window, which drops
        -- NULL-timestamp rows: an event with no time cannot open or
        -- extend a session (same stance as the funnel's entry filter)
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         -- STRICT > (r9 family-8 find): Spark's session_window
                         -- MERGES touching windows — an event arriving
                         -- exactly `gap` after the last one extends the
                         -- session (same semantics as Flink's session
                         -- merge); only a gap STRICTLY greater starts a
                         -- new one
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        -- event_id tiebreak must match flagged's window order: a ts-only
        -- ROWS frame could scan a tied row before its new-session flag
        -- and count it into the previous session (nondeterministic)
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
    doc="Session windows (30-min gap) per user — Spark session_window in "
        "batch; the streaming twin lives in streaming/events.py. Oracle is "
        "the classic gaps-and-islands rewrite.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
        )
    )


@register(
    "events_sliding_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '5 minutes', ts)
                - (k * INTERVAL '5 minutes') AS VARCHAR) AS window_start,
           count(*) AS n_events
    FROM events CROSS JOIN unnest([0, 1]) AS u(k)
    WHERE ts IS NOT NULL  -- mirrors Spark's window(): no time, no window
    GROUP BY 1
    """,
    doc="Sliding window (10-min window, 5-min slide): every event lands "
        "in window/slide buckets; batch twin of the streaming pipeline.",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n_events")
    )


@register(
    "multimodal_decode",
    # The synthetic media table is a pure function of the row index i
    # (operators/multimodal.py:synth_media), so DuckDB can recompute the
    # EXPECTED metadata — dimensions, frame/page counts, and exact
    # container byte sizes for every closed-form container (BMP 54-byte
    # header + 4-aligned rows, PPM ASCII header + 3wh, PNG with level-0
    # zlib = 68 fixed bytes + h*(1+3w) stored scanlines, palette PNG =
    # 128 fixed bytes (incl. the 16-entry PLTE) + h*(1+w) index
    # scanlines, 16-bit gray PNG = 68 + h*(1+2w), Adam7 RGB PNG = 68 +
    # the 7-pass scanline sum, 4-bit palette PNG = 128 + h*(1+ceil(w/2)),
    # WAV 44 + bytes_per_sample*n + RIFF pad, fake VID header) — from
    # range(96) without parsing binary.  r13 (r12 verdict Next 1): the
    # codec layer's containers join the fixture — baseline +
    # progressive JPEG image rows, every WAV sample format
    # (PCM8/16/24/32 + float32 + G.711 a-law/mu-law, incl. the
    # odd-body RIFF pad byte in the size formula; r14 adds the IMA/MS
    # ADPCM block codecs, whose whole-block sizes are their own closed
    # formulas and whose fact-chunk truncation keeps width == ns under
    # the same dim pin), animated GIF and
    # multi-page TIFF (G4-bilevel / LZW+predictor / tiled / planar-2 /
    # G3-1D / JPEG-in-TIFF / G3-2D / bilevel-tiled sub-cycle) video
    # rows.  The entropy-coded
    # containers (JPEG/GIF/TIFF) have no closed-form size, so the size
    # pin (sized_bytes) restricts to the formula containers via the SAME
    # media_id arithmetic on both sides, and those rows are pinned
    # through their decoded dims (SOF/logical-screen/IFD probes) and
    # REAL frame/page counts (O(blocks) GIF structure walk, O(IFD-chain)
    # TIFF page walk) under sum_width/sum_height/total_frames — a wrong
    # LZW block walk or IFD chain breaks the hash.
    oracle="""
    WITH m AS (
      SELECT i,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             8 + i % 16 AS iw, 6 + i % 8 AS ih,
             256 + i % 64 AS ns,
             4 + i % 8 AS nf,
             2 + i % 3 AS npages,
             i % 17 + 1 AS plen,
             (i // 3) % 9 AS ic,
             -- Audio container/format cycle (r13: G.711 a-law/mu-law
             -- at 5/6 — one companded byte per sample; r14: IMA/MS
             -- ADPCM stereo at 7/8, Sun AU mu-law at 9, stereo AIFF
             -- PCM16 at 10; r15: stereo WAVE_FORMAT_EXTENSIBLE PCM16
             -- at 11 — each with its own size formula below, bps
             -- unused for those rows)
             CASE (i // 3) % 12 WHEN 0 THEN 2 WHEN 1 THEN 1
                  WHEN 2 THEN 3 WHEN 3 THEN 4 WHEN 4 THEN 4
                  ELSE 1 END AS bps,
             (i // 3) % 12 AS wfmt,
             -- r15: the video cycle widened %3 -> %5 (AVI-DIB at 3,
             -- AVI-MJPEG at 4 — the real RIFF video container)
             (i // 3) % 5 AS vc
      FROM range(96) t(i)
    ), meta AS (
      SELECT kind,
             CASE kind WHEN 'image' THEN iw WHEN 'audio' THEN ns
                  ELSE CASE vc WHEN 0 THEN 64 ELSE iw END END AS width,
             -- audio height = n_channels: the ADPCM/AIFF (r14) and
             -- extensible (r15) rows are stereo, everything else mono
             CASE kind WHEN 'image' THEN ih
                  WHEN 'audio' THEN CASE WHEN wfmt IN (7, 8, 10, 11)
                                    THEN 2 ELSE 1 END
                  ELSE CASE vc WHEN 0 THEN 48 ELSE ih END END AS height,
             CASE kind WHEN 'video' THEN
                  CASE vc WHEN 2 THEN npages ELSE nf END
                  ELSE 1 END AS n_frames,
             CASE kind
               WHEN 'image' THEN CASE ic
                 WHEN 0 THEN 54 + ih * ((iw * 3 + 3) // 4 * 4)
                 WHEN 1 THEN 9 + len(CAST(iw AS VARCHAR))
                      + len(CAST(ih AS VARCHAR)) + 3 * iw * ih
                 WHEN 2 THEN 68 + ih * (1 + 3 * iw)
                 -- palette PNG (r12): 16-entry PLTE, one index byte
                 -- per pixel in level-0 stored scanlines
                 WHEN 3 THEN 80 + 3 * 16 + ih * (1 + iw)
                 -- 16-bit grayscale PNG (r12): two bytes per sample
                 WHEN 4 THEN 68 + ih * (1 + 2 * iw)
                 -- Adam7-interlaced RGB PNG (r12): each of the 7
                 -- passes is an independently-filtered mini-image of
                 -- hp scanlines x (1 + 3*wp) bytes; all passes are
                 -- non-empty at the fixture's iw>=8, ih>=6
                 WHEN 5 THEN 68
                   + ((ih + 7) // 8) * (1 + 3 * ((iw + 7) // 8))
                   + ((ih + 7) // 8) * (1 + 3 * ((iw + 3) // 8))
                   + ((ih + 3) // 8) * (1 + 3 * ((iw + 3) // 4))
                   + ((ih + 3) // 4) * (1 + 3 * ((iw + 1) // 4))
                   + ((ih + 1) // 4) * (1 + 3 * ((iw + 1) // 2))
                   + ((ih + 1) // 2) * (1 + 3 * (iw // 2))
                   + (ih // 2) * (1 + 3 * iw)
                 -- 4-bit palette PNG (r12): sub-byte scanlines pack
                 -- two indexes per byte (MSB-first), ceil(iw/2) bytes
                 WHEN 6 THEN 80 + 3 * 16 + ih * (1 + (iw + 1) // 2)
                 -- JPEG rows (r13): entropy-coded, no closed form
                 ELSE 0
               END
               -- WAV (r13): per-format sample width + the RIFF word-
               -- alignment pad byte on odd-length bodies; the ADPCM
               -- block codecs (r14) are fixed header + whole 32-byte
               -- blocks — IMA: 60 + 32*ceil(ns/57) (57 samples per
               -- 32-byte mono block), MS: 90 + 32*ceil(ns/52)
               WHEN 'audio' THEN CASE wfmt
                 WHEN 7 THEN 60 + 64 * ((ns + 56) // 57)
                 WHEN 8 THEN 90 + 64 * ((ns + 51) // 52)
                 WHEN 9 THEN 24 + ns
                 WHEN 10 THEN 54 + 4 * ns
                 -- r15 extensible stereo PCM16: the 40-byte fmt chunk
                 -- replaces the plain 16-byte one (+24), body 4*ns
                 WHEN 11 THEN 68 + 4 * ns
                 ELSE 44 + bps * ns + (bps * ns) % 2 END
               -- video: the fake header and AVI-DIB (r15) have closed
               -- forms — DIB is 232 fixed container bytes + per frame
               -- (8 chunk header + 16 idx1 entry + h 4-aligned BGR
               -- rows); GIF/TIFF/AVI-MJPEG are entropy-coded (0 here,
               -- pinned via dims + frame/page walks)
               ELSE CASE vc WHEN 0 THEN
                    11 + len(CAST(nf AS VARCHAR)) + plen
                    WHEN 3 THEN
                    232 + nf * (24 + ih * ((3 * iw + 3) // 4 * 4))
                    ELSE 0 END
             END AS sized_bytes
      FROM m
    )
    SELECT kind, count(*) AS n_media,
           CAST(sum(sized_bytes) AS BIGINT) AS sized_bytes,
           CAST(sum(width) AS BIGINT) AS sum_width,
           CAST(sum(height) AS BIGINT) AS sum_height,
           CAST(max(width) AS BIGINT) AS max_width,
           CAST(max(height) AS BIGINT) AS max_height,
           CAST(sum(n_frames) AS BIGINT) AS total_frames
    FROM meta GROUP BY kind
    """,
    doc="Multimodal columns: binary media + typed metadata decoded via "
        "Arrow-batched mapInPandas — REAL numpy BMP/PPM/PNG/JPEG/GIF/"
        "TIFF/WAV codecs (functions/media_codecs.py and friends), fake "
        "header for the extension-point video rows; per-format size/"
        "dimension/frame rollup, oracled against the generative "
        "formula (closed-form byte sizes where the container has one, "
        "probe dims + frame/page counts everywhere).",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators import multimodal as MM

    media = MM.synth_media(spark, 96, real=True)
    decoded = MM.decode_media(media)
    # The size pin applies only to containers with a closed-form byte
    # size (the oracle cannot recompute an entropy stream): both sides
    # restrict with the SAME pure-function-of-media_id arithmetic the
    # fixture itself uses, so the predicate is part of what's verified.
    sized = F.when(
        ((F.col("kind") == "image") & (F.expr("(media_id DIV 3) % 9") <= 6))
        | (F.col("kind") == "audio")
        # video closed forms (r15): the fake header and AVI-DIB rows
        | ((F.col("kind") == "video")
           & F.expr("(media_id DIV 3) % 5").isin(0, 3)),
        F.col("n_bytes"),
    ).otherwise(F.lit(0))
    return decoded.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(sized).cast("long").alias("sized_bytes"),
        F.sum("width").cast("long").alias("sum_width"),
        F.sum("height").cast("long").alias("sum_height"),
        F.max("width").cast("long").alias("max_width"),
        F.max("height").cast("long").alias("max_height"),
        F.sum("n_frames").cast("long").alias("total_frames"),
    )


@register(
    "multimodal_resize_features",
    # Drives the two multimodal compute kernels that previously had no
    # driver-oracled row (r10 verdict item 6): resize_images (real
    # nearest-neighbor resize + re-encode through the numpy BMP/PPM/PNG
    # codecs) and extract_features (per-channel stats for decodable
    # media, md5 fallback otherwise), both Arrow-batched mapInPandas.
    # Oracle-able because every assertion reduces to the generative
    # formula: images all decode to exactly 4x2 after the resize (and
    # their re-encoded payload hash must CHANGE — original dims are
    # never 4x2); audio and fake-video rows pass through byte-identical,
    # while the REAL video containers (r13: animated GIF, multi-page
    # TIFF) resize EVERY frame/page to 4x2, preserve their frame/page
    # count through re-encode, and change their payload; the feature
    # vector's last two slots for images — and for the first frame/page
    # of the real video containers — are w/4096 and h/4096 = 2^-10 /
    # 2^-11 — exact in float32, so the equality count is bit-safe, and
    # PROVABLY unreachable by the md5-fallback values (nearest
    # uint16/65535 quotient sits ~2e-8 away, ~200 float32 ulps) and by
    # audio's samples/1e6, rate/1e5 slots.
    oracle="""
    WITH m AS (
      SELECT i,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             256 + i % 64 AS ns,
             4 + i % 8 AS nf,
             2 + i % 3 AS npages,
             (i // 3) % 12 AS wfmt,
             -- r15: the video cycle is %5 (AVI-DIB at 3, AVI-MJPEG at
             -- 4); both resize every frame like GIF/TIFF, so only the
             -- vc arithmetic changes here
             (i // 3) % 5 AS vc
      FROM range(96) t(i)
    ), meta AS (
      SELECT kind,
             CASE kind WHEN 'image' THEN 4 WHEN 'audio' THEN ns
                  ELSE CASE vc WHEN 0 THEN 64 ELSE 4 END END AS width,
             -- audio passes through resize untouched; the r14 ADPCM/
             -- AIFF and r15 extensible rows are stereo, the rest mono
             CASE kind WHEN 'image' THEN 2
                  WHEN 'audio' THEN CASE WHEN wfmt IN (7, 8, 10, 11)
                                    THEN 2 ELSE 1 END
                  ELSE CASE vc WHEN 0 THEN 48 ELSE 2 END END AS height,
             CASE kind WHEN 'video' THEN
                  CASE vc WHEN 2 THEN npages ELSE nf END
                  ELSE 1 END AS n_frames,
             -- frame_sample(every_k=2) keeps indices 0,2,..,n-1:
             -- ceil(n/2) frames per video (pages count like frames)
             CASE kind WHEN 'video' THEN
                  CASE vc WHEN 2 THEN (npages + 1) // 2
                       ELSE (nf + 1) // 2 END
                  ELSE 0 END AS sampled,
             -- resize touches images and the real video containers
             -- (GIF vc=1, TIFF vc=2); those same rows decode to 4x2
             -- and carry the exact dim feature slots
             CASE WHEN kind = 'image'
                       OR (kind = 'video' AND vc > 0) THEN 1
                  ELSE 0 END AS changed
      FROM m
    )
    SELECT kind, count(*) AS n_media,
           CAST(min(width) AS BIGINT) AS min_width,
           CAST(max(width) AS BIGINT) AS max_width,
           CAST(min(height) AS BIGINT) AS min_height,
           CAST(max(height) AS BIGINT) AS max_height,
           CAST(sum(n_frames) AS BIGINT) AS total_frames,
           CAST(sum(sampled) AS BIGINT) AS total_sampled_frames,
           CAST(sum(changed) AS BIGINT) AS n_payload_changed,
           count(*) AS n_feature_dim8,
           CAST(sum(changed) AS BIGINT) AS n_dim_features
    FROM meta GROUP BY kind
    """,
    doc="Multimodal compute kernels end-to-end: resize_images to 4x2 "
        "(real nearest-neighbor through the numpy BMP/PPM/PNG codecs; "
        "non-images pass through byte-identical) then decode_media, "
        "extract_features over the RESIZED bytes, and frame_sample "
        "(every_k=2) — per-kind dimension accounting, payload-hash "
        "change counts, exact feature-slot checks, and sampled-frame "
        "accounting (operators/multimodal.py:213,267,320).",
)
def multimodal_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators import multimodal as MM

    media = MM.synth_media(spark, 96, real=True)
    orig = MM.decode_media(media).select(
        "media_id", F.col("payload_hash").alias("orig_hash"))
    resized = MM.resize_images(media, width=4, height=2)
    dec = MM.decode_media(resized)
    # frame_sample covers the fourth multimodal kernel in the same row:
    # ceil(n_frames / every_k) sampled indices per video, zero for
    # other kinds (posexplode over the frame-index sequence).
    sampled = (
        MM.frame_sample(media, every_k=2)
        .groupBy("media_id")
        .agg(F.count("*").alias("n_sampled"))
    )
    feats = MM.extract_features(resized).select(
        "media_id",
        F.size("feature").alias("f_dim"),
        # slots 7/8 (1-based): images carry w/4096, h/4096 there —
        # exact powers of two in float32, so equality is bit-safe.
        F.element_at("feature", 7).alias("f_w"),
        F.element_at("feature", 8).alias("f_h"),
    )
    return (
        dec.join(orig, "media_id").join(feats, "media_id")
        .join(sampled, "media_id", "left")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.min("width").cast("long").alias("min_width"),
            F.max("width").cast("long").alias("max_width"),
            F.min("height").cast("long").alias("min_height"),
            F.max("height").cast("long").alias("max_height"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.sum(F.coalesce("n_sampled", F.lit(0))).cast("long")
            .alias("total_sampled_frames"),
            F.sum(
                (F.col("payload_hash") != F.col("orig_hash")).cast("long")
            ).alias("n_payload_changed"),
            F.sum((F.col("f_dim") == 8).cast("long")).alias("n_feature_dim8"),
            F.sum(
                ((F.col("f_w") == F.lit(4.0 / 4096.0))
                 & (F.col("f_h") == F.lit(2.0 / 4096.0))).cast("long")
            ).alias("n_dim_features"),
        )
    )


def _scoped_session(
    spark: SparkSession, shuffle_partitions: int | None = None
) -> SparkSession:
    """A ``newSession()`` child of ``spark`` that carries its runtime SQL conf.

    The child shares the SparkContext but has its own SQL conf, temp views
    and query names, so a stream run in it cannot change the caller's conf
    or collide with another run on the same session.  ``newSession()``
    starts from the launch conf, not from values set at runtime, so the
    caller's modifiable ``spark.sql.*`` entries are copied in;
    ``shuffle_partitions`` then sets the child's width alone.
    """
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if key.startswith("spark.sql.") and spark.conf.isModifiable(key):
            child.conf.set(key, value)
    if shuffle_partitions is not None:
        child.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return child


def _replay_stream(
    spark: SparkSession,
    frame: DataFrame,
    read: Callable[..., DataFrame],
    build: Callable[[Callable[[], DataFrame]], DataFrame],
    rollup: Callable[[DataFrame], DataFrame],
    *,
    output_mode: str,
    files: int | None = None,
    per_trigger: int = 8,
    stateful: bool = False,
) -> DataFrame:
    """Replay ``frame`` as a file stream run to ``availableNow`` and return
    ``rollup`` of what its sink received, as a DataFrame of ``spark``.

    ``frame`` is staged as parquet in ``files`` files (its own partitioning
    when None).  ``build`` gets an opener: each call is a new
    ``read(child, staged_dir, max_files_per_trigger=per_trigger)`` stream
    in a :func:`_scoped_session` child, and it returns the streaming query.
    The sink follows from the output mode: append writes a parquet file
    sink read back with the stream's schema, so nothing corpus-sized
    reaches the driver; complete and update write a memory sink under a
    per-call name.  A ``stateful`` query runs its child at the width
    ``SD.stream_state_partitions`` gives for its per-trigger input rows.
    The rows are collected before the staging directory is removed.
    """
    import glob
    import math
    import tempfile
    import uuid

    from spreadsheet_etl_engine_spark.streaming import dedup as SD
    from spreadsheet_etl_engine_spark.streaming import events as SE

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        (frame if files is None else frame.repartition(files)).write.parquet(src)
        width = None
        if stateful:
            triggers = max(1, math.ceil(len(glob.glob(f"{src}/*.parquet")) / per_trigger))
            rows = spark.read.schema(frame.schema).parquet(src).count()
            width = SD.stream_state_partitions(spark, rows / triggers)
        child = _scoped_session(spark, width)
        stream = build(lambda: read(child, src, max_files_per_trigger=per_trigger))
        if output_mode == "append":
            out = f"{tmp}/out"
            (stream.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", f"{tmp}/ckpt")
             .trigger(availableNow=True).start().awaitTermination())
            sink = child.read.schema(stream.schema).parquet(out)
        else:
            name = f"replay_{uuid.uuid4().hex}"
            SE.run_to_memory_sink(stream, name, output_mode=output_mode)
            sink = child.table(name)
        final = rollup(sink)
        return spark.createDataFrame(final.collect(), final.schema)


@register(
    "streaming_tumbling_counts",
    # availableNow over a static file source is deterministic and complete
    # output mode emits every window, so the batch twin's SQL oracle
    # (events_tumbling_window, registry.py) applies verbatim; pytest
    # additionally pins stream == batch (tests/test_streaming.py).
    oracle="""
    -- ts IS NOT NULL mirrors Spark's window(): a row with no event
    -- time belongs to no window (batch and stream agree)
    SELECT CAST(time_bucket(INTERVAL '10 minutes', ts) AS VARCHAR) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window counts executed with the "
        "file source and availableNow trigger; must equal the batch twin.",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.streaming import events as SE

    return _replay_stream(
        spark, load_table(spark, sf_dir, "events"), SE.read_event_stream,
        lambda stream: SE.tumbling_counts(stream()),
        lambda out: out.withColumn(
            "window_start", F.col("window_start").cast("string")),
        output_mode="complete",
    )


@register(
    "streaming_session_counts",
    # Deterministic availableNow run in complete mode ≡ the batch twin
    # events_sessionize, whose gaps-and-islands oracle applies verbatim;
    # pytest additionally pins stream == batch (tests/test_streaming.py).
    oracle="""
    WITH flagged AS (
        -- ts IS NOT NULL mirrors Spark's session_window, which drops
        -- NULL-timestamp rows: an event with no time cannot open or
        -- extend a session (same stance as the funnel's entry filter)
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         -- STRICT >: Spark's session_window
                         -- MERGES touching windows — an event arriving
                         -- exactly `gap` after the last one extends the
                         -- session (same semantics as Flink's session
                         -- merge); only a gap STRICTLY greater starts a
                         -- new one
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        -- event_id tiebreak must match flagged's window order: a ts-only
        -- ROWS frame could scan a tied row before its new-session flag
        -- and count it into the previous session (nondeterministic)
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
    doc="Structured Streaming session-window counts (30-min gap) executed "
        "with the file source and availableNow trigger — the streaming "
        "run of events_sessionize. Complete output mode: append would "
        "hold back sessions the final watermark hasn't closed.",
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.streaming import events as SE

    return _replay_stream(
        spark, load_table(spark, sf_dir, "events"), SE.read_event_stream,
        lambda stream: SE.session_counts(stream()),
        lambda out: out.withColumn(
            "session_start", F.col("session_start").cast("string")),
        output_mode="complete",
    )


@register(
    "streaming_view_click_join",
    # availableNow over a static source is deterministic and the join is
    # INNER (watermarks only bound state, never drop matches once all
    # files are processed), so the batch range-join SQL is an exact
    # oracle; pytest additionally pins stream == batch.
    oracle="""
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           c.event_id AS click_id,
           CAST(v.ts AS VARCHAR) AS view_ts,
           CAST(c.ts AS VARCHAR) AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
    doc="Watermarked stream-stream inner join executed as a real "
        "Structured Streaming query (file source, availableNow): "
        "view->click attribution per user within a 10-minute horizon. "
        "The time-range predicate + both-side watermarks bound the join "
        "state — the pattern that makes stream-stream joins viable at "
        "100 TB/day (streaming/events.py:view_click_attribution).",
)
def streaming_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.streaming import events as SE

    # Backfill watermark: file order is event-time-arbitrary, so the
    # delay must span the replayed window (31 days covers the fixture's
    # 30-day span) or "late" files silently lose matches — see
    # view_click_attribution's docstring for the sizing rule.  Each side
    # is its own file stream over the staged files.
    return _replay_stream(
        spark, load_table(spark, sf_dir, "events"), SE.read_event_stream,
        lambda stream: SE.view_click_attribution(
            stream().filter(F.col("event_type") == "view"),
            stream().filter(F.col("event_type") == "click"),
            watermark="31 days",
        ),
        lambda out: out.select(
            "user_id", "view_id", "click_id",
            F.col("view_ts").cast("string").alias("view_ts"),
            F.col("click_ts").cast("string").alias("click_ts"),
        ),
        output_mode="append",
    )


@register(
    "streaming_stateful_totals",
    # The stateful operator is deterministic in its FINAL per-user row:
    # n_events is an exact count, and the operator accumulates integer
    # cents under the engine-wide decimal(18,2) measure contract (summed
    # as decimal(38,0) — see running_user_totals' docstring), so the
    # last emitted row per user
    # (the one with max n_events — n strictly increases across
    # micro-batches) carries a sum that is arrival-order-independent
    # and bit-identical to the oracle's exact decimal sum cast to
    # double.  pytest additionally pins stream == batch and checkpoint
    # kill-and-resume (tests/test_streaming.py).
    oracle="""
    -- coalesce: a user whose every value is NULL sums to 0 cents in
    -- the operator (missing entries just don't contribute) while SQL
    -- sum() yields NULL
    SELECT user_id,
           count(*) AS n_events,
           CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0)
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="Running per-user event count and exact value sum as a "
        "streaming aggregation (one state row per user id) executed as "
        "a real Structured Streaming query: file source, availableNow, "
        "update-mode memory sink, 2 files per micro-batch so most users' "
        "state is restored and updated across batches rather than "
        "created once (streaming/events.py:running_user_totals).",
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.streaming import events as SE

    # 8 files + 2 per trigger => ~4 micro-batches: the state-restore path
    # (get/update across batches) is what this row attests.
    return _replay_stream(
        spark, load_table(spark, sf_dir, "events"), SE.read_event_stream,
        lambda stream: SE.running_user_totals(stream()),
        lambda out: out.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            # the row with max n_events is the final state emission
            # (n strictly increases per user across micro-batches)
            F.max_by("total_value", "n_events").alias("total_value"),
        ),
        output_mode="update", files=8, per_trigger=2,
    )


@register(
    "streaming_dedup_events",
    # The source feed is events UNION an exact re-delivery of the
    # event_id%7==3 subset (at-least-once transport), spread over 8
    # files with 2 per trigger so copies land in DIFFERENT micro-
    # batches and the cross-batch seen-key state is what actually
    # removes them.  dropDuplicates over ALL columns makes the final
    # output set equal batch SELECT DISTINCT * under any micro-batch
    # layout (exact copies: any survivor is every survivor), so the
    # oracle ignores the injection entirely — the duplicates it never
    # sees are exactly the ones the stream must drop.  The deduped
    # stream lands in a PARQUET sink (the production shape — nothing
    # corpus-sized touches the driver) and the compact per-type rollup
    # reads the sink back.
    oracle="""
    WITH d AS (SELECT DISTINCT * FROM events)
    SELECT event_type, count(*) AS n_events,
           count(DISTINCT event_id) AS n_event_ids,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM d GROUP BY event_type
    """,
    doc="Streaming dedup on ingest (streaming/dedup.py:"
        "dedup_within_watermark): exact-copy removal behind a watermark "
        "executed as a real Structured Streaming query (file source, "
        "availableNow, parquet sink).  The event-time column sits in "
        "the dedup key, so seen-key state evicts behind the watermark — "
        "O(redelivery horizon) state, never O(stream).",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.streaming import dedup as SD
    from spreadsheet_etl_engine_spark.streaming import events as SE

    ev = load_table(spark, sf_dir, "events")
    # Backfill watermark sizing (the streaming_view_click_join rule, made
    # data-driven): the delay must cover the REPLAYED span or rows in
    # files processed after a newer file are dropped as late — one poison
    # timestamp (epoch/9999) in an early micro-batch would otherwise
    # advance the watermark past the whole feed (the resample_gapfill
    # poison-ts class, streaming form).
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span_days = (hi - lo).days + 2 if lo is not None else 31
    return _replay_stream(
        spark, ev.unionByName(ev.filter(F.col("event_id") % 7 == 3)),
        SE.read_event_stream,
        lambda stream: SD.dedup_within_watermark(
            stream(), "ts", f"{span_days} days"),
        lambda out: out.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_id").alias("n_event_ids"),
            F.sum(
                finite_or_fail(F.col("value"), "value").cast("decimal(18,2)")
            ).cast("double").alias("total_value"),
        ),
        output_mode="append", files=8, per_trigger=2,
    )


@register(
    "streaming_seen_index",
    # Same injection scheme (documents re-delivered for doc_id%5==2),
    # so the oracle counts 1 + [doc_id%5=2] copies per document row
    # WITHOUT seeing the stream.  The streaming aggregation's final
    # emission per content hash is (count, min id) — both commutative,
    # so the last row per hash (max n_copies; n strictly increases) is
    # arrival-order-independent and equals the batch exact_dedup row.
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS rep_doc_id,
           CAST(sum(1 + CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="The incremental_dedup seen-index as streaming state "
        "(streaming/dedup.py:seen_index_stream, a streaming aggregation):"
        " one (n_copies, min_id) state row per distinct content hash, "
        "updated across micro-batches (8 files, 2 per trigger) — the "
        "state-store form of the persisted parquet index, emitting the "
        "batch exact-dedup survivorship row per hash.",
)
def streaming_seen_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.streaming import dedup as SD

    docs = load_table(spark, sf_dir, "documents")
    # The emitted (hash, count, min-id) rows do not depend on the state
    # partitioning, so the stateful width is sized for speed alone.
    return _replay_stream(
        spark, docs.unionByName(docs.filter(F.col("doc_id") % 5 == 2)),
        SD.read_document_stream,
        lambda stream: SD.seen_index_stream(stream()),
        lambda out: out.groupBy("content_hash").agg(
            F.max("n_copies").alias("n_copies"),
            F.max_by("rep_doc_id", "n_copies").alias("rep_doc_id"),
        ).select("content_hash", "rep_doc_id", "n_copies"),
        output_mode="update", files=8, per_trigger=2, stateful=True,
    )


@register(
    "streaming_dedup_fuzzy",
    # FUZZY dedup on ingest: MinHash band keys computed per-row in each
    # micro-batch, one stateful shuffle keying applyInPandasWithState on
    # (band_id, band_hash); a new id emits a candidate pair per prior
    # bucket occupant.  The streamed corpus is the even-doc_id half, with
    # the %5==2 subset re-delivered (at-least-once transport) across 8
    # files / 2 per trigger so copies land in different micro-batches —
    # re-delivered ids are already in bucket state and must emit
    # NOTHING.  The emitted pair set (after the consumer's DISTINCT —
    # multi-band collisions emit once per band, exactly like the batch
    # bucket join before its DISTINCT) equals the batch
    # minhash_lsh_pairs restricted to the streamed corpus, so the oracle
    # is that query's SQL with the corpus predicate — it never sees the
    # injection; the duplicates it ignores are the ones the state must
    # swallow.
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        FROM documents
        WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) >= 3
    ),
    sig AS (SELECT doc_id, {_sig_sql(8)} FROM sh GROUP BY doc_id),
    b AS (
        SELECT doc_id,
               CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) AS b0,
               CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR) AS b1,
               CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) AS b2,
               CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR) AS b3
        FROM sig
    )
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM b x JOIN b y
      ON x.doc_id < y.doc_id
     AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
    """,
    doc="Streaming fuzzy dedup (streaming/dedup.py:"
        "band_candidates_stream): MinHash-LSH candidate pairs emitted "
        "on ingest via band-keyed applyInPandasWithState — the "
        "streaming form of dedup_minhash_lsh_pairs' bucket self-join, "
        "feeding the same verify stage.  Emit-once append semantics "
        "run straight into a parquet sink (nothing corpus-sized "
        "touches the driver); state is one id list per distinct band "
        "key with a documented skew cap (max_bucket).",
)
def streaming_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.streaming import dedup as SD

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    # Pairs form strictly within a band bucket, so the result does not
    # depend on the state partitioning; the stateful width only moves the
    # fixed per-partition cost of each micro-batch.  The distinct pair
    # set has the cardinality the batch twin returns.
    return _replay_stream(
        spark, docs.unionByName(docs.filter(F.col("doc_id") % 5 == 2)),
        SD.read_document_stream,
        lambda stream: SD.band_candidates_stream(
            stream(), "text", "doc_id", num_hashes=8, bands=4),
        lambda out: out.select("id_a", "id_b").distinct(),
        output_mode="append", files=8, per_trigger=2, stateful=True,
    )


@register(
    "quality_constraint_report",
    oracle="""
    -- coalesce on every sum: over zero rows SQL sum() is NULL, but an
    -- empty input has 0 violations (mirrors _violation_expr's coalesce
    -- — r8 empty-slice sweep find).
    SELECT 'orderkey_not_null' AS constraint, 'not_null' AS kind,
           CAST(coalesce(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_violations,
           count(*) AS n_rows
    FROM lineitem
    UNION ALL
    SELECT 'qty_in_range', 'in_range',
           CAST(coalesce(sum(CASE WHEN l_quantity IS NOT NULL
                          AND l_quantity NOT BETWEEN 1 AND 50
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
           count(*)
    FROM lineitem
    UNION ALL
    SELECT 'discount_low', 'in_range',
           CAST(coalesce(sum(CASE WHEN l_discount IS NOT NULL
                          AND l_discount NOT BETWEEN 0 AND 0.05
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
           count(*)
    FROM lineitem
    UNION ALL
    SELECT 'flag_accepted', 'accepted_values',
           CAST(coalesce(sum(CASE WHEN l_returnflag IS NOT NULL
                          AND l_returnflag NOT IN ('A', 'N')
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
           count(*)
    FROM lineitem
    UNION ALL
    SELECT 'line_pk', 'unique',
           CAST(coalesce(sum(c - 1), 0) AS BIGINT),
           CAST(coalesce(sum(c), 0) AS BIGINT)
    FROM (SELECT count(*) AS c FROM lineitem
          WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
          GROUP BY l_orderkey, l_linenumber)
    """,
    doc="Declarative data-quality constraint report (deequ-lite, "
        "operators/quality.py): not_null / in_range / accepted_values "
        "compile into ONE single-scan map-side-combinable aggregation; "
        "the composite-key unique check adds one keyed agg.  Two "
        "constraints are deliberately violated by the data (discount "
        "beyond 0.05, returnflag 'R') so non-zero counts are under the "
        "hash too.  assert_constraints raises the fail-loud form.",
)
def quality_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators import quality as Q

    li = load_table(spark, sf_dir, "lineitem")
    return Q.check_constraints(li, [
        Q.not_null("orderkey_not_null", "l_orderkey"),
        Q.in_range("qty_in_range", "l_quantity", 1, 50),
        Q.in_range("discount_low", "l_discount", 0, 0.05),
        Q.accepted_values("flag_accepted", "l_returnflag", ["A", "N"]),
        Q.unique("line_pk", "l_orderkey", "l_linenumber"),
    ])


@register(
    "quality_nonfinite_report",
    oracle="""
    -- The diagnostic companion to the engine's NON_FINITE_MEASURE
    -- fail-loud contract (functions/numeric.py): which measures carry
    -- NaN/±Infinity, how many values, how much of the feed is clean.
    SELECT 'events' AS tbl, 'value' AS col_name, count(*) AS n_rows,
           count(*) FILTER (value IS NULL) AS n_null,
           count(*) FILTER (isnan(value)) AS n_nan,
           count(*) FILTER (isinf(value)) AS n_inf,
           count(*) FILTER (value IS NOT NULL AND NOT isnan(value)
                            AND NOT isinf(value)) AS n_finite
    FROM events
    UNION ALL
    SELECT 'lineitem', 'l_quantity', count(*),
           count(*) FILTER (l_quantity IS NULL),
           count(*) FILTER (isnan(l_quantity)),
           count(*) FILTER (isinf(l_quantity)),
           count(*) FILTER (l_quantity IS NOT NULL AND NOT isnan(l_quantity)
                            AND NOT isinf(l_quantity))
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'l_extendedprice', count(*),
           count(*) FILTER (l_extendedprice IS NULL),
           count(*) FILTER (isnan(l_extendedprice)),
           count(*) FILTER (isinf(l_extendedprice)),
           count(*) FILTER (l_extendedprice IS NOT NULL
                            AND NOT isnan(l_extendedprice)
                            AND NOT isinf(l_extendedprice))
    FROM lineitem
    UNION ALL
    -- array column: count ROWS containing >= 1 non-finite component
    SELECT 'embeddings', 'embedding', count(*),
           count(*) FILTER (embedding IS NULL),
           count(*) FILTER (len(list_filter(embedding,
                                            x -> isnan(x))) > 0),
           count(*) FILTER (len(list_filter(embedding,
                                            x -> isinf(x))) > 0),
           count(*) FILTER (embedding IS NOT NULL
                            AND len(list_filter(embedding,
                                    x -> isnan(x) OR isinf(x))) = 0)
    FROM embeddings
    """,
    doc="Per-column non-finite profile over the pipeline's measure "
        "columns and the embedding vectors — the diagnostic an operator "
        "runs after a NON_FINITE_MEASURE raise (the fail-loud guard on "
        "every deterministic decimal sum, functions/numeric.py) to "
        "locate the poison and size the cleanup before choosing between "
        "an in_range filter and an upstream fix.  One single-scan "
        "map-side-combinable aggregation per table (sum(CASE) per "
        "count, operators/quality.py:nonfinite_report); array columns "
        "use exists() per row, never exploding the vectors.",
)
def quality_nonfinite_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators import quality as Q

    def profiled(table: str, doubles=(), arrays=()):
        df = load_table(spark, sf_dir, table)
        return Q.nonfinite_report(
            df, double_cols=doubles, array_cols=arrays
        ).select(F.lit(table).alias("tbl"), "*")

    return (
        profiled("events", doubles=("value",))
        .unionByName(profiled(
            "lineitem", doubles=("l_quantity", "l_extendedprice")))
        .unionByName(profiled("embeddings", arrays=("embedding",)))
    )


@register(
    "sample_cap_per_source",
    oracle="""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5('cap:' || doc_id), doc_id) AS rn
        FROM documents
    ) WHERE rn <= 30
    """,
    doc="Per-source document cap (domain-cap sampling): keep at most N "
        "docs per source, chosen by deterministic salted-hash order — "
        "the standard curation step that stops one domain dominating "
        "the mix.  Reproducible under any partitioning (a bare limit() "
        "per group is not); one shuffle on source; at 100 TB pair with "
        "AQE skew splitting since source is the skewed column by "
        "definition.",
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 30)
        .select("doc_id", "source")
    )


@register(
    "text_encoding_quality",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '�')) AS n_replacement,
           len(regexp_extract_all(text,
               -- NUL (hex 00) included (r9 review find): it is the
               -- strongest binary-in-text signal and never legitimate
               '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS n_control,
           CAST(length(regexp_replace(text, '[ -~\\x09\\x0a\\x0d]', '', 'g'))
                AS DOUBLE) / length(text) AS non_ascii_frac
    FROM documents WHERE length(text) > 0
    """,
    doc="Encoding-quality signals per document: U+FFFD replacement-char "
        "count (mojibake from bad transcoding), C0 control chars "
        "(binary-in-text), and the non-printable-ASCII fraction — the "
        "cheap filters a web-scale ingest runs before any model-based "
        "scoring.  Per-row built-ins, zero shuffles.",
)
def text_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = F.col("text")
    return docs.select(
        "doc_id",
        # Python-level regexp_extract_all: the SQL-literal form would eat
        # the \x escapes before the regex engine ever saw them.
        F.size(F.regexp_extract_all(t, F.lit("�"), 0)).alias("n_replacement"),
        F.size(
            F.regexp_extract_all(t, F.lit(r"[\x00-\x08\x0b\x0c\x0e-\x1f]"), 0)
        ).alias("n_control"),
        (
            F.length(F.regexp_replace(t, r"[ -~\x09\x0a\x0d]", "")).cast("double")
            / F.length(t)
        ).alias("non_ascii_frac"),
    )


# Invisible-codepoint classes for text_unicode_hygiene, shared verbatim
# by the Spark expression and the DuckDB oracle (built from the same
# lists, so the classes can never drift apart).  translate() is
# codepoint-wise in both engines — no regex, so none of the \s-dialect
# divergence the r9 review found can reappear here.
_BIDI_CONTROLS = [0x200E, 0x200F, 0x202A, 0x202B, 0x202C, 0x202D, 0x202E,
                  0x2066, 0x2067, 0x2068, 0x2069]
_ZERO_WIDTH = [0x200B, 0x200C, 0x200D, 0xFEFF]
_INVISIBLE_SPACES = [0x00A0, 0x202F]


def _hygiene_chars(codes: list[int]) -> str:
    return "".join(chr(c) for c in codes)


def _hygiene_sql(codes: list[int]) -> str:
    return " || ".join(f"chr({c})" for c in codes)


@register(
    "text_unicode_hygiene",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) - length(translate(text,
                {_hygiene_sql(_BIDI_CONTROLS)}, '')) AS BIGINT) AS n_bidi,
           CAST(length(text) - length(translate(text,
                {_hygiene_sql(_ZERO_WIDTH)}, '')) AS BIGINT) AS n_zero_width,
           CAST(length(text) - length(translate(text,
                {_hygiene_sql(_INVISIBLE_SPACES)}, ''))
                AS BIGINT) AS n_invisible_space,
           (length(text) - length(translate(text,
                {_hygiene_sql(_BIDI_CONTROLS + _ZERO_WIDTH)}, ''))) = 0
               AS is_clean
    FROM documents
    """,
    doc="Unicode-hygiene curation signals per document: bidi-control "
        "count (LRM/RLM, LRE/RLE/LRO/RLO/PDF, the U+2066-2069 isolates "
        "— the invisible-reordering class used for source/prompt "
        "spoofing), zero-width count (ZWSP/ZWNJ/ZWJ/BOM-in-text — "
        "invisible-injection and word-boundary poisoning), and "
        "invisible-space count (NBSP/NNBSP — layout residue, excluded "
        "from is_clean because it is common in legitimate web text).  "
        "The companion to text_encoding_quality (which covers "
        "U+FFFD/C0 controls/non-ASCII fraction): together they are the "
        "cheap pre-filter a 100 TB ingest runs before model-based "
        "scoring.  Counting is length-minus-translate — codepoint-wise "
        "in both engines, no regex dialect in play — per-row, zero "
        "shuffles.  NULL text yields NULL counts (no text is not clean "
        "text).",
)
def text_unicode_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")

    def count_of(codes: list[int]) -> F.Column:
        return (
            F.length(t) - F.length(F.translate(t, _hygiene_chars(codes), ""))
        ).cast("long")

    return docs.select(
        "doc_id",
        count_of(_BIDI_CONTROLS).alias("n_bidi"),
        count_of(_ZERO_WIDTH).alias("n_zero_width"),
        count_of(_INVISIBLE_SPACES).alias("n_invisible_space"),
        (count_of(_BIDI_CONTROLS + _ZERO_WIDTH) == 0).alias("is_clean"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, t AS term, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE doc_id < 100
      ) GROUP BY doc_id, t
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
    SELECT doc_id, term, tfidf, rnk
    FROM (
      SELECT tf.doc_id, tf.term,
             -- round(…, 6): ln() differs by 1 ULP across libm
             -- implementations, so raw doubles would hash-mismatch and
             -- could even flip rank order at ties.
             round(CAST(tf.tf AS DOUBLE)
                   * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(CAST(tf.tf AS DOUBLE)
                        * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) DESC,
                        tf.term) AS rnk
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ) WHERE rnk <= 3
    """,
    doc="Per-document top-3 TF-IDF terms (smoothed IDF ln((N+1)/(df+1))): "
        "term frequencies and document frequencies are two map-side-"
        "combinable aggs; the df table joins back on term (broadcast "
        "when the vocabulary fits, shuffle otherwise) and a per-doc "
        "window ranks.  The classic keyword-extraction shape; restricted "
        "to doc_id < 100 to bound the driver compare.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tf = (
        docs.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            # round(…, 6): ln() differs by 1 ULP across libm
            # implementations, so raw doubles would hash-mismatch vs the
            # oracle and could flip rank order at ties.
            F.round(
                F.col("tf").cast("double")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@register(
    "text_collocations_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), big AS (
      SELECT unnest(list_transform(range(1, len(ts)),
                    i -> ts[i] || ' ' || ts[i+1])) AS bg
      FROM toks
    ), uni AS (
      SELECT unnest(ts) AS t FROM toks
    ), bc AS (
      SELECT bg, count(*) AS n_bg FROM big GROUP BY bg HAVING count(*) >= 20
    ), uc AS (
      SELECT t, count(*) AS n_t FROM uni GROUP BY t
    ), tot AS (
      SELECT (SELECT count(*) FROM big) AS n_big,
             (SELECT count(*) FROM uni) AS n_uni
    )
    SELECT bg AS bigram, n_bg,
           -- round(…, 6): cross-libm ln() ULP differences (see tfidf).
           round(ln((CAST(n_bg AS DOUBLE) / n_big)
              / ((CAST(a.n_t AS DOUBLE) / n_uni)
                 * (CAST(b.n_t AS DOUBLE) / n_uni))), 6) AS pmi
    FROM bc CROSS JOIN tot
    JOIN uc a ON a.t = string_split(bg, ' ')[1]
    JOIN uc b ON b.t = string_split(bg, ' ')[2]
    ORDER BY pmi DESC, bigram LIMIT 25
    """,
    doc="Collocation extraction: top-25 bigrams by pointwise mutual "
        "information (min count 20 kills noise).  Bigram and unigram "
        "counts are map-side-combinable aggs over per-row array "
        "transforms; the unigram table joins twice on the word key "
        "(broadcastable — vocabulary-sized).  The standard phrase-"
        "mining signal for tokenizer/vocab construction.",
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(TXT.tokens(F.col("text")).alias("ts"))
    # Guard n >= 2 like TXT.word_shingles does for k: sequence(1, 0) is
    # DESCENDING [1, 0] on a 1-token doc — under ANSI mode ts[1] throws
    # INVALID_ARRAY_INDEX, and with ANSI off it injects NULL bigrams that
    # inflate n_big.  The oracle's range(1, len) is empty for the same
    # doc, so parity on the multi-token fixture never sees it.
    bigrams = toks.filter(F.size("ts") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, size(ts) - 1), i -> "
                   "concat(ts[i-1], ' ', ts[i]))")
        ).alias("bg")
    )
    unigrams = toks.select(F.explode("ts").alias("t"))
    bc = bigrams.groupBy("bg").agg(F.count("*").alias("n_bg")).filter("n_bg >= 20")
    uc = unigrams.groupBy("t").agg(F.count("*").alias("n_t"))
    tot = bigrams.select(F.count("*").alias("n_big")).crossJoin(
        unigrams.select(F.count("*").alias("n_uni"))
    )
    a = uc.select(F.col("t").alias("_ta"), F.col("n_t").alias("n_a"))
    b = uc.select(F.col("t").alias("_tb"), F.col("n_t").alias("n_b"))
    return (
        bc.crossJoin(F.broadcast(tot))
        .join(F.broadcast(a), F.split("bg", " ")[0] == F.col("_ta"))
        .join(F.broadcast(b), F.split("bg", " ")[1] == F.col("_tb"))
        .select(
            F.col("bg").alias("bigram"),
            "n_bg",
            F.round(
                F.log(
                    (F.col("n_bg").cast("double") / F.col("n_big"))
                    / ((F.col("n_a").cast("double") / F.col("n_uni"))
                       * (F.col("n_b").cast("double") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(25)
    )


@register(
    "text_wordcount_top",
    oracle="""
    SELECT t AS token, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ) GROUP BY t ORDER BY n DESC, t LIMIT 20
    """,
    doc="Corpus-level token frequency top-20 (explode -> hash agg -> "
        "TakeOrdered): the canonical map-side-combinable word count.",
)
def text_wordcount_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "text_quality",
    oracle="""
    SELECT doc_id,
           -- explicit whitespace class, not \\s (see functions/text.py)
           len(regexp_extract_all(text, '[^\\w \\t\\n\\x0B\\f\\r]')) AS n_punct,
           CAST(len(list_filter(string_split(lower(text), ' '),
                    t -> list_contains(['the','and','of','to','is','a','in'], t))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / greatest(len(string_split(text, ' ')), 1))
             + 0.5 * (CAST(least(len(string_split(text, ' ')), 100) AS DOUBLE) / 100.0)
               AS quality_score
    FROM documents
    """,
    doc="Per-document quality scoring: punctuation count, stopword ratio, "
        "and a [0,1] heuristic score (type/token diversity + length term) "
        "— per-row built-ins, shuffle-free.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = TXT.tokens(t)
    stop = ["the", "and", "of", "to", "is", "a", "in"]
    low_toks = TXT.tokens(F.lower(t))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(
            t, F.lit(rf"[^\w{TXT.WS_CLASS}]"), 0)).alias("n_punct"),
        (
            F.size(F.filter(low_toks, lambda x: x.isin(*stop))).cast("double")
            / F.size(toks)
        ).alias("stopword_ratio"),
        TXT.quality_score(t).alias("quality_score"),
    )


@register(
    "text_quality_rank",
    oracle="""
    WITH q AS (
      -- outer coalesce mirrors the engine: a NULL-text doc is a 0-token
      -- junk doc scoring 0.0 (ranks at the bottom of its language) —
      -- NULL scores would also NULL-order differently across engines
      SELECT doc_id, lang,
             coalesce(
               0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / greatest(len(string_split(text, ' ')), 1))
                 + 0.5 * (CAST(least(len(string_split(text, ' ')), 100) AS DOUBLE)
                          / 100.0), 0.0) AS quality_score
      FROM documents
    )
    SELECT doc_id, lang, quality_score,
           percent_rank() OVER (PARTITION BY lang
                                ORDER BY quality_score, doc_id)
               AS lang_pct_rank,
           -- single-doc languages keep their only doc (percent_rank 0.0)
           (percent_rank() OVER (PARTITION BY lang
                                 ORDER BY quality_score, doc_id) >= 0.2
            OR count(*) OVER (PARTITION BY lang) = 1)
               AS keep_top80
    FROM q
    """,
    doc="Per-language quality normalization: percent_rank of the quality "
        "score WITHIN each language (raw scores are not comparable "
        "across languages — stopword lists, tokenization and length "
        "norms differ), plus the keep/drop decision at the bottom-20% "
        "cut.  Deterministic: rank orders by (score, doc_id) and "
        "percent_rank is an exact integer ratio.  Scale note: this "
        "shuffles one language into one sort — fine for the long tail, "
        "but the dominant language (half the web) should use the "
        "approx-quantile threshold variant instead of a full in-language "
        "rank — registered as text_quality_rank_approx; see SCALE.md.",
)
def text_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        # NULL text -> 0.0: a doc with no text is a junk doc, not an
        # unrankable one (quality_score alone is NULL on NULL input).
        F.coalesce(TXT.quality_score(F.col("text")), F.lit(0.0))
        .alias("quality_score"),
    )
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    pct = F.percent_rank().over(w)
    # A 1-document language has percent_rank 0.0 for its only doc, so a
    # bare >= 0.2 would drop 100% of the language — the "keep top 80%"
    # contract's degenerate edge (and the approx twin keeps such docs:
    # the 20th percentile of one value is that value).
    n_lang = F.count("*").over(Window.partitionBy("lang"))
    return docs.select(
        "doc_id",
        "lang",
        "quality_score",
        pct.alias("lang_pct_rank"),
        ((pct >= 0.2) | (n_lang == 1)).alias("keep_top80"),
    )


@register(
    "text_quality_rank_approx",
    oracle=None,  # approximate by design: t-digest thresholds are
    # sketch-merge-order dependent, so the driver records rows-only; the
    # output embeds per-language agreement vs the exact-rank twin (the
    # self-audit pattern) and pytest pins it.
    doc="The 100 TB path for per-language quality filtering (SCALE.md): "
        "approx_percentile (t-digest) of the quality score per language "
        "-> one tiny broadcastable threshold table -> shuffle-free "
        "keep/drop filter.  The exact twin (text_quality_rank) sorts "
        "each language's documents inside one partition, which the "
        "dominant language (half the corpus) cannot afford; this variant "
        "never sorts documents at all.  Output: per-language threshold, "
        "keep counts from BOTH paths, and the per-doc decision agreement "
        "fraction (exact twin computed here as the embedded audit; at "
        "scale you'd run it on a sample).",
)
def text_quality_rank_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        # Same NULL-text -> 0.0 totalization as the exact twin, so the
        # embedded agreement audit compares identical score domains.
        F.coalesce(TXT.quality_score(F.col("text")), F.lit(0.0))
        .alias("quality_score"),
    )
    # Scale path: one map-side-combinable sketch agg per language, then a
    # broadcast threshold join — no in-language sort anywhere.
    thresholds = docs.groupBy("lang").agg(
        F.percentile_approx("quality_score", 0.2, 10000).alias("q20_approx")
    )
    approx = docs.join(F.broadcast(thresholds), "lang").withColumn(
        "keep_approx", F.col("quality_score") >= F.col("q20_approx")
    )
    # Driver-scale audit twin: the exact bottom-20% rank decision.
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    n_lang = F.count("*").over(Window.partitionBy("lang"))
    exact = docs.select(
        "doc_id", "lang",
        ((F.percent_rank().over(w) >= 0.2) | (n_lang == 1)).alias("keep_exact"),
    )
    return (
        approx.join(exact, ["doc_id", "lang"])
        .groupBy("lang")
        .agg(
            F.round(F.max("q20_approx"), 6).alias("q20_approx"),
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep_approx").cast("long")).alias("n_keep_approx"),
            F.sum(F.col("keep_exact").cast("long")).alias("n_keep_exact"),
            F.round(
                F.avg((F.col("keep_approx") == F.col("keep_exact")).cast("double")),
                6,
            ).alias("agreement_frac"),
        )
        .orderBy("lang")
    )


@register(
    "window_rank_variants",
    oracle="""
    SELECT o_custkey, o_orderkey,
           dense_rank()   OVER w AS drnk,
           percent_rank() OVER w AS prnk,
           ntile(4)       OVER w AS quartile
    FROM orders
    -- NULLS LAST on the ASC tiebreak (r9 review find): the fixture
    -- carries a NULL-o_orderkey row, and ntile is position-sensitive —
    -- Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey NULLS LAST)
    """,
    doc="Window-function variants: dense_rank / percent_rank / ntile over "
        "a per-key ordering (single shuffle on the partition key).",
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc_nulls_last("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


# (SimHash oracle SQL hoisted to the top of the module: _SIMHASH_SQL)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH s AS ({_SIMHASH_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
    doc="SimHash near-duplicate pairs (Hamming distance <= 6 over the "
        "32-bit sketch) via pigeonhole segment buckets: 7 segments, a "
        "<=6-bit difference leaves >=1 segment equal, so candidates come "
        "from an equi-join on (segment, value) — one shuffle, never the "
        "O(n^2) nested loop — then exact bit_count verification. "
        "Lossless: identical rows to the quadratic oracle.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = DD.simhash_sketch(load_table(spark, sf_dir, "documents"), "text", "doc_id")
    return DD.simhash_hamming_pairs(sk, max_hamming=6)


# ---------------------------------------------------------------------------
# Training-data curation queries (r4): repetition-quality signals, PII
# scrubbing, deterministic split assignment, source mixing weights.  All
# pure Catalyst expressions — no UDFs, no driver loops; each aggregates or
# maps during the scan, so cost is one pass over documents at any scale.
# ---------------------------------------------------------------------------

@register(
    "text_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), b AS (
      SELECT doc_id, toks,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> toks[i] || ' ' || toks[i+1]) AS bg
      FROM t
    )
    SELECT doc_id,
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS dup_word_frac,
           CASE WHEN len(bg) > 0 THEN
             CAST(list_max(list_transform(list_distinct(bg),
                  x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
           ELSE 0.0 END AS top_bigram_frac
    FROM b
    """,
    doc="Gopher-style repetition quality signals per document: duplicate-"
        "word fraction and most-frequent-bigram fraction — the classic "
        "filters for boilerplate/degenerate text in training corpora "
        "(Rae et al. 2021 §A1.1). Pure per-row array expressions: zero "
        "shuffle, one scan. The top-bigram count is sort + longest-equal-"
        "run in a single aggregate pass — O(n log n) per DOCUMENT; the "
        "naive distinct x filter formulation is O(n^2) per row in an "
        "interpreted HOF and measured 140x slower at sf0.1 (84 s -> "
        "0.6 s). The DuckDB oracle keeps the quadratic spelling: same "
        "values, and the oracle only runs at small SF.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens(F.col("text"))
    bg = TXT.word_shingles(F.col("text"), 2)
    dup = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    # Longest run of equal adjacent elements in the SORTED bigram array
    # == max bigram multiplicity.  State: (prev, current run, best run).
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_count = F.aggregate(F.array_sort(bg), init, step, lambda acc: acc["best"])
    top = F.when(
        F.size(bg) > 0, max_count.cast("double") / F.size(bg)
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id", dup.alias("dup_word_frac"), top.alias("top_bigram_frac")
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"


@register(
    "text_pii_scrub",
    oracle=rf"""
    WITH raw AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@' || source
                  || '.net or 10.0.' || (doc_id % 200) || '.7' AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw, '{_IPV4_RE}')) AS n_ips,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_IPV4_RE}', '<IP>', 'g') AS clean
    FROM raw
    """,
    doc="PII scrubbing: redact emails and IPv4 addresses with typed "
        "placeholders and count redactions per document — standard "
        "pre-training hygiene. The synthetic corpus carries no PII, so "
        "the query splices a deterministic contact string per row first; "
        "the oracle checks the actual redacted text, so both regex "
        "dialects (Java / RE2) must agree on every match. regexp_replace "
        "in the scan stage: zero shuffle, Arrow never involved.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@"), F.col("source"),
        F.lit(".net or 10.0."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".7"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(raw, F.lit(_IPV4_RE)).alias("n_ips"),
        clean.alias("clean"),
    )


@register(
    "train_split_assign",
    oracle="""
    SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM (
      SELECT *, CAST(('0x' || substr(md5('split:' || doc_id), 1, 8)) AS BIGINT)
                % 100 AS h
      FROM documents
    )
    GROUP BY 1
    """,
    doc="Deterministic train/val/test assignment (80/10/10) by salted "
        "content-key hash — reproducible across runs, engines and "
        "repartitioning, unlike randomSplit whose output depends on "
        "partition layout. The same portable md5-prefix hash family as "
        "the dedup operators, so DuckDB derives identical splits. "
        "Map-side classify + 3-group agg: one scan, one tiny shuffle.",
)
def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
    )
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return (
        # token_count, not bare F.size: NULL text must be a NULL count
        # (skipped by the sum) under every cluster config — legacy
        # sizeOfNull's -1 would silently shrink the split's token total.
        docs.select(split.alias("split"), TXT.token_count(F.col("text")).alias("_n"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("_n").alias("n_tokens"))
    )


@register(
    "mix_weights_by_source",
    oracle="""
    WITH per_src AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT *, CAST(sqrt(n_tokens) AS DECIMAL(18,6)) AS sq FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           CAST(sq AS DOUBLE) / CAST((SELECT sum(sq) FROM w) AS DOUBLE)
               AS mix_weight
    FROM w
    """,
    doc="Temperature-scaled source mixing weights (alpha=0.5, the "
        "multilingual-sampling exponent): per-source token counts -> "
        "w_s = sqrt(tokens_s) / sum(sqrt(tokens)). sqrt is IEEE-correctly-"
        "rounded (bit-identical across engines, unlike pow) and the "
        "normalizing sum runs in DECIMAL so accumulation order cannot "
        "perturb the weights. Shape: ONE scan, map-side-combined agg to "
        "~|sources| rows, then the normalizing total as an unpartitioned "
        "window over that tiny aggregate — a cross-join against a "
        "separate total would re-scan and re-aggregate the corpus.",
)
def mix_weights_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        # token_count, not bare F.size: see train_split_assign — a
        # legacy-config -1 for NULL text would corrupt the token sum
        # and so every source's mixing weight.
        F.sum(TXT.token_count(F.col("text"))).alias("n_tokens"),
    ).withColumn("_sq", F.sqrt(F.col("n_tokens")).cast("decimal(18,6)"))
    total = F.sum("_sq").over(Window.partitionBy())
    return per_src.select(
        "source", "n_docs", "n_tokens",
        (F.col("_sq").cast("double") / total.cast("double")).alias("mix_weight"),
    )


@register(
    "text_contamination",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
                 range(1, greatest(len(toks) - 2, 0) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')))) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 AS b
      FROM documents
    ), bench AS (
      SELECT DISTINCT g.g FROM g JOIN h USING (doc_id) WHERE h.b < 5
    ), corpus AS (
      SELECT g.doc_id, g.g FROM g JOIN h USING (doc_id) WHERE h.b >= 5
    )
    SELECT doc_id, count(*) AS n_contaminated_grams
    FROM corpus JOIN bench USING (g)
    GROUP BY doc_id
    """,
    doc="Benchmark-contamination check: flag corpus documents sharing any "
        "word 3-gram with a held-out evaluation set (here a deterministic "
        "5% hash split of documents stands in for the benchmark), with "
        "the count of distinct contaminated grams per document. Scale "
        "shape: a real benchmark is MBs against a 100 TB corpus, so its "
        "distinct-gram set BROADCASTS and the corpus gram stream is "
        "filtered map-side during the scan — no shuffle of corpus data; "
        "only the small flagged aggregate shuffles. The decontamination "
        "step is then an anti-join on the flagged doc_ids.",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import _hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(TXT.word_shingles(F.col("text"), 3))).alias("g"),
        _hash_bucket(F.col("doc_id"), 100).alias("_b"),
    )
    bench = grams.filter(F.col("_b") < 5).select("g").distinct()
    corpus = grams.filter(F.col("_b") >= 5)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )


@register(
    "train_pack_sequences",
    oracle="""
    WITH d AS (
      -- coalesce mirrors the engine: a NULL-text doc is a 0-token doc
      -- that still packs (contributes 0 tokens to its bucket's cumsum)
      SELECT doc_id, coalesce(len(string_split(text, ' ')), 0) AS n_tok,
             CAST(('0x' || substr(md5('pack:' || doc_id), 1, 8)) AS BIGINT)
             % 32 AS bucket,
             md5('order:' || doc_id) AS okey
      FROM documents
    ), c AS (
      SELECT *, sum(n_tok) OVER (PARTITION BY bucket ORDER BY okey, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    -- 1e12 stride: a bucket holds up to 1e12 sequences (5e14 tokens)
    -- before colliding into the next bucket's id space; the old 1e6
    -- stride capped at 512M tokens/bucket, BELOW the docstring's own
    -- 100 TB sizing
    SELECT bucket * 1000000000000 + CAST(floor((cum - n_tok) / 512.0) AS BIGINT)
               AS seq_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1
    """,
    doc="Sequence packing for pre-training: documents stream into "
        "512-token sequences by OFFSET BUCKETING — a doc is wholly "
        "assigned to the sequence its cumulative START offset falls in, "
        "so a boundary-straddling doc makes its sequence OVERFLOW the "
        "budget by up to len-1 tokens (r9 review: an earlier doc claimed "
        "next-fit/fixed-budget, which this is not — true next-fit closes "
        "a bin when the next doc does not fit, but is inherently "
        "sequential per bucket; offset bucketing is the one-window "
        "distributed form, and downstream consumers either truncate the "
        "overflow or pre-chunk long docs upstream, the standard "
        "trade-off).  Scale shape: docs hash into 32 independent packing "
        "buckets and the cumulative-token window runs PER BUCKET in "
        "deterministic md5 order — a single global cumulative sum would "
        "funnel 100 TB through one partition. The bin boundary divides "
        "by 512 (a power of two, so the double division is exact in "
        "both engines).",
)
def train_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs)


# Packing-bucket knob: each bucket is an independent window partition, so
# parallelism == PACK_BUCKETS.  Size it like shuffle partitions — a few ×
# the executor-core count, and high enough that one bucket's token mass
# (corpus_tokens / n_buckets) fits a single task comfortably; md5 doc
# assignment keeps loads uniform regardless of the doc-length
# distribution (pinned by tests/test_curation_scale.py).  32 matches the
# local[32] harness; a 1000-executor run would use O(10k).
PACK_BUCKETS = 32


def pack_sequences(
    docs: DataFrame, *, n_buckets: int = PACK_BUCKETS, seq_len: int = 512
) -> DataFrame:
    """Bucketed next-fit sequence packing (the train_pack_sequences body,
    parameterized so tests can drive skewed inputs and bucket counts).

    ``docs`` needs ``doc_id`` and ``text``; output is one row per packed
    training sequence.  ``seq_len`` must keep the bin-boundary division
    exact in double (powers of two are)."""
    from pyspark.sql.window import Window

    key = F.col("doc_id").cast("string")
    d = docs.select(
        "doc_id",
        # token_count is NULL for NULL text under EVERY cluster config
        # (the shared guard in functions/text.py); coalesce to 0 because
        # a NULL n_tok would null every later seq_id in the bucket's
        # running sum — a NULL-text doc is a 0-token doc that still
        # packs, contributing nothing to the budget.
        F.coalesce(TXT.token_count(F.col("text")), F.lit(0)).alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("pack:"), key)), 1, 8), 16, 10)
            .cast("long") % n_buckets
        ).alias("bucket"),
        F.md5(F.concat(F.lit("order:"), key)).alias("okey"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("okey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    # 1e12 stride mirrors the oracle: bucket ids stay < ~1e5 at any sane
    # bucket count, so bucket*1e12 + seq index fits a long with 1e12
    # sequences (5e14 tokens) of headroom per bucket — the 1e6 stride
    # collided at 512M tokens/bucket, below the documented 100 TB sizing.
    seq = (
        F.col("bucket").cast("long") * 1_000_000_000_000
        + F.floor((F.col("cum") - F.col("n_tok")) / F.lit(float(seq_len))).cast("long")
    )
    return (
        c.select(seq.alias("seq_id"), "n_tok")
        .groupBy("seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      -- ts IS NOT NULL mirrors funnel_steps' entry filter: NULL-ts
      -- events cannot order within a funnel
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
    ), c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1
    )
    SELECT v.user_id,
           CAST(v.v_ts AS VARCHAR) AS first_view,
           CAST(c.c_ts AS VARCHAR) AS first_click,
           CAST(p.p_ts AS VARCHAR) AS first_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    doc="Ordered conversion funnel (view -> click -> purchase): per-user "
        "first-occurrence chain where each step must happen at or after "
        "the previous one; users keep NULLs from the step they never "
        "reached (operators/relational.py:funnel_steps — n keyed aggs "
        "over shrinking stage populations, no whole-history windows).",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    out = funnel_steps(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            ("first_view", F.col("event_type") == "view"),
            ("first_click", F.col("event_type") == "click"),
            ("first_purchase", F.col("event_type") == "purchase"),
        ],
    )
    return out.select(
        "user_id",
        F.col("first_view").cast("string").alias("first_view"),
        F.col("first_click").cast("string").alias("first_click"),
        F.col("first_purchase").cast("string").alias("first_purchase"),
    )


@register(
    "events_mode_per_user",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT user_id, event_type, cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rn,
             sum(cnt) OVER (PARTITION BY user_id) AS n_events
      FROM c
    )
    SELECT user_id, event_type AS mode_event_type, cnt AS mode_count,
           CAST(n_events AS BIGINT) AS n_events
    FROM r WHERE rn = 1
    """,
    doc="Statistical mode per group (each user's most frequent event "
        "type, ties to the lexicographically smallest) via two map-side-"
        "combinable aggs: count per (user, type), then an associative "
        "struct-min argmax — Spark's builtin mode() is tie-"
        "nondeterministic, and a row_number window would sort per group "
        "instead of combining partials.  Both shuffles carry at most "
        "\\|users x types\\| rows.",
)
def events_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    # The _nullv flag makes a NULL event_type LOSE count ties (r9 review
    # find): Spark's struct comparison sorts NULL fields FIRST, so
    # without it min() would pick NULL over a tied real type, while the
    # oracle's DuckDB NULLS LAST window picks the real type.  At most
    # one NULL-type row exists per user (it is a group key), so the flag
    # fully disambiguates.
    best = F.min(
        F.struct((-F.col("cnt")).alias("_negcnt"),
                 F.col("event_type").isNull().cast("int").alias("_nullv"),
                 F.col("event_type").alias("_val"))
    ).alias("_m")
    return (
        counts.groupBy("user_id")
        .agg(best, F.sum("cnt").alias("n_events"))
        .select(
            "user_id",
            F.col("_m._val").alias("mode_event_type"),
            (-F.col("_m._negcnt")).alias("mode_count"),
            "n_events",
        )
    )


@register(
    "events_decayed_engagement",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(pow(2, 40 - greatest(least(
                 date_diff('day', CAST(ts AS DATE), DATE '2024-02-01') // 7,
                 40), 0)) AS DECIMAL(38,0))) AS DOUBLE)
             / pow(2, 40) AS decayed_score
    -- ts IS NOT NULL (r9 review find): an event with no time has no
    -- age — it previously fell through least/greatest NULL-skipping
    -- to k=40 (weight 2^-40) and inflated n_events; the file's
    -- standing stance (sessionize/funnel/transitions) is exclusion
    FROM events WHERE ts IS NOT NULL
    GROUP BY user_id
    """,
    doc="Freshness-decayed engagement: each event weighs 1/2^k where k = "
        "age in 7-day half-lives (capped at 40), summed per user — the "
        "recency-weighting signal a curation pipeline uses to mix fresh "
        "vs stale sources.  The weights are integer-scaled powers of two "
        "summed in DECIMAL, so the aggregate is EXACT and "
        "partition-order-independent (a double sum of exp() decays "
        "rounds differently per shuffle layout and can never "
        "hash-match an oracle); one map-side-combinable shuffle.  k is "
        "clamped on BOTH sides: events after the anchor date decay as "
        "k=0 (weight 1) instead of producing weights > 1 and, ~86 weeks "
        "past the anchor, overflowing DECIMAL(38,0) into a NULL "
        "aggregate.",
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts events excluded (r9 review find): no time -> no age;
    # they previously decayed at the k=40 clamp via least/greatest
    # NULL-skipping, which no doc promised.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    age_days = F.datediff(
        F.lit("2024-02-01").cast("date"), F.col("ts").cast("date")
    )
    k = F.greatest(
        F.least(F.floor(age_days / 7).cast("int"), F.lit(40)), F.lit(0)
    )
    w = F.pow(F.lit(2.0), (F.lit(40) - k).cast("double")).cast("decimal(38,0)")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.sum(w).cast("double") / F.lit(float(2**40))).alias("decayed_score"),
    )


@register(
    "events_transitions",
    oracle="""
    WITH seq AS (
      -- ts IS NOT NULL: an event with no timestamp has no position in
      -- the user's timeline (and NULL ordering diverges across engines:
      -- Spark sorts NULLS FIRST asc, DuckDB NULLS LAST)
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events WHERE ts IS NOT NULL
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n,
           count(*) / (sum(count(*)) OVER (PARTITION BY prev_type))
               AS p_next_given_prev
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    doc="Markov transition matrix over per-user event sequences: lag() "
        "inside each user's timeline pairs consecutive event types, then "
        "counts and conditional probabilities per (prev -> next).  One "
        "shuffle on user_id (the same partitioning sessionize uses — at "
        "scale these stages share the exchange), the transition agg is "
        "map-side combinable down to |types|^2 rows, and the "
        "probability window runs over that tiny aggregate, not the "
        "events.",
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # NULL-ts events carry no timeline position — excluded from the
    # sequence on both sides (the oracle's WHERE mirrors this filter).
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    agg = pairs.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    w_prev = Window.partitionBy("prev_type")
    return agg.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(w_prev)).alias("p_next_given_prev"),
    )


@register(
    "events_value_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type,
             -- count(value), not count(*): divisor matches the power sums
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(CAST(value AS DECIMAL(18,2))) AS mu,
             -- DECIMAL(19,2) for the squared term: width 19 forces
             -- DuckDB onto INT128 multiplication (18x18 runs in INT64
             -- and overflows at |x| >= ~1e10: 1e14 units * 1e14 units
             -- — r8 family-5 find; Spark auto-widens the product to
             -- (37,4), so only the oracle needed the explicit cast).
             sqrt(greatest(
               CAST(sum(CAST(value AS DECIMAL(19,2))
                        * CAST(value AS DECIMAL(19,2))) AS DOUBLE)
                 / count(CAST(value AS DECIMAL(18,2)))
               - pow(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     / count(CAST(value AS DECIMAL(18,2))), 2), 0)) AS sigma
      FROM events GROUP BY event_type
    ),
    -- Degenerate (constant-valued) groups excluded EXACTLY via
    -- min = max on the decimal values (r10 review pass 4 — the
    -- agg_linear_fit r9 pattern): sigma for such a group is double
    -- cancellation residue (~1e-18) or exact 0, so the raw-vs-rounded
    -- mean difference (~1e-17) "exceeds 3 sigma" and every row would
    -- be flagged with a garbage z-score — or the division dies
    -- outright (Spark ANSI errors on double division by zero).
    r AS (
      SELECT event_type,
             min(CAST(value AS DECIMAL(18,2))) AS mn,
             max(CAST(value AS DECIMAL(18,2))) AS mx
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - m.mu) / m.sigma AS zscore
    FROM events e JOIN m ON e.event_type = m.event_type
                  JOIN r ON e.event_type = r.event_type
    -- sigma > 0 (r10 ADVICE): min<>max only excludes EXACTLY-constant
    -- groups; a non-constant group with large magnitudes near the
    -- decimal cap (values ~1e8, spread 0.01) has sxx/n and mu^2 ~1e16
    -- where double ulp is ~2, so the clamped variance can still land
    -- at exactly 0.0 with min<>max — the division then raises ANSI
    -- DIVIDE_BY_ZERO in Spark while DuckDB yields Infinity.  Both
    -- engines compute sigma as the IDENTICAL double expression from
    -- exact decimal sums, so this predicate is bit-identical across
    -- engines and strictly stronger than the min/max test (kept for
    -- the comment trail: it documents the common constant-group case).
    WHERE r.mn <> r.mx AND m.sigma > 0
      AND abs(e.value - m.mu) > 3 * m.sigma
    """,
    doc="Per-group z-score outliers: exact one-pass decimal moments per "
        "event_type (operators/relational.py:exact_moments — associative "
        "power sums, engine-reproducible), broadcast back onto the "
        "events, keep |value - mean| > 3 sigma.  The anomaly-flagging "
        "shape: stats are a tiny broadcast, the event scan stays one "
        "pass, nothing shuffles the fact side.",
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import exact_moments

    ev = load_table(spark, sf_dir, "events")
    # include_range: the exact degenerate-group detector.  A constant-
    # valued group's sigma is cancellation residue (~1e-18) or exact 0;
    # without the min != max guard the raw-vs-rounded mean difference
    # (~1e-17) "exceeds 3 sigma" and either floods the output with
    # garbage z-scores or kills the query with an ANSI DIVIDE_BY_ZERO
    # (r10 review pass 4 find, reproduced live; same class as
    # agg_linear_fit's r9 fix).  Exact decimal min/max ride the same
    # single-pass agg — no extra scan.
    m = exact_moments(ev, ["event_type"], "value", alias_prefix="v",
                      include_range=True)
    return (
        ev.join(F.broadcast(m), "event_type")
        # v_std > 0 (r10 ADVICE fix): min != max misses near-constant
        # large-magnitude groups whose clamped double variance lands at
        # exactly 0.0 (sxx/n ~ 1e16 has ulp ~2); v_std is the identical
        # double expression on both engine and oracle (exact decimal
        # sums -> the same sqrt/greatest arithmetic), so the predicate
        # is bit-identical across engines and strictly stronger.
        .filter(
            (F.col("v_min") != F.col("v_max"))
            & (F.col("v_std") > 0)
            & (F.abs(F.col("value") - F.col("v_mean")) > 3 * F.col("v_std"))
        )
        .select(
            "event_id",
            "event_type",
            "value",
            ((F.col("value") - F.col("v_mean")) / F.col("v_std")).alias("zscore"),
        )
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             -- floor(), not //: DuckDB's integer // TRUNCATES toward
             -- zero for negative operands (-19723 // 7 = -2817), while
             -- the engine floors (-2818) so week buckets stay uniform
             -- across the anchor date — an epoch-1970 event sits 2818
             -- whole weeks before 2024-01-01, not 2817 (r8 edge-sweep
             -- find; a plain / 7 + CAST would also ROUND to nearest).
             CAST(floor(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk
      -- ts IS NOT NULL (r9 review find): a NULL-ts event previously
      -- produced a spurious (cohort, NULL-offset) retention cell
      FROM events WHERE ts IS NOT NULL
    ), cohort AS (
      SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY 1
    )
    SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM act a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    doc="Cohort retention: users grouped by first-activity week, counted "
        "per week-offset of return activity — the standard retention "
        "triangle.  Distinct (user, week) activity first (collapses "
        "event volume to user-weeks), then each user's cohort week as a "
        "window min over that user's weeks and a low-cardinality agg.  "
        "Week boundaries anchor to a fixed epoch date so bucketing is "
        "engine-reproducible.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # NULL-ts events excluded: an unknowable week is not return activity;
    # mirrors the oracle's filter.  NULL user ids are excluded too: the
    # oracle's join drops them, and the window would count them as a
    # zero-user cohort row.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    act = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7
        ).alias("wk"),
    ).distinct()
    # A window, not an aggregate joined back: adaptive execution would
    # broadcast whichever join side finished first, so the job count
    # depended on timing.
    cohort_wk = F.min("wk").over(Window.partitionBy("user_id"))
    return (
        act.withColumn("cohort_wk", cohort_wk)
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "events_resample_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events WHERE user_id < 50
        AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2026-01-01'
      GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, min(h) AS hmin, max(h) AS hmax FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(hmin, hmax, INTERVAL '1 hour')) AS h
      FROM bounds
    )
    SELECT g.user_id, CAST(g.h AS VARCHAR) AS bucket_start,
           COALESCE(hh.n, 0) AS n_events,
           last_value(hh.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS UNBOUNDED PRECEDING) AS v_filled
    FROM grid g LEFT JOIN hourly hh
      ON g.user_id = hh.user_id AND g.h = hh.h
    """,
    doc="Time-series resample + gap fill: hourly buckets per user, the "
        "complete hour grid between each user's first and last bucket "
        "(sequence + explode — per-row compute, no shuffle), zero-count "
        "gap rows, and the bucket value sum forward-filled across gaps "
        "(last IGNORE NULLS window).  The standard hypertable-rollup "
        "shape (operators/relational.py:resample_gapfill).  The input is "
        "bounded to the pipeline's reporting window (2024-2026) — the "
        "standard gap-fill practice, since the grid is data-dependent "
        "and ONE poison timestamp (epoch or 9999) would otherwise "
        "inflate a key's span by millions of buckets; the operator's "
        "max_buckets_per_key guard fails loud if garbage slips through "
        "anyway (r8 edge-sweep find).",
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spreadsheet_etl_engine_spark.operators.relational import resample_gapfill

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2026-01-01").cast("timestamp"))
        )
    )
    out = resample_gapfill(ev, key_col="user_id", ts_col="ts", value_col="value")
    return out.withColumn("bucket_start", F.col("bucket_start").cast("string"))


@register(
    "events_rolling_window",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts,
           count(*) OVER w AS n_30m,
           -- VARCHAR route on the final cast (r9 family-8 find): DuckDB's
           -- hugeint-backed (wide) DECIMAL -> DOUBLE cast is off by up to
           -- 2 ULP once |cents| > 2^53, while Spark's BigDecimal cast is
           -- correctly rounded; decimal -> string -> double is correctly
           -- rounded in both.  Only bites when a frame slices the big
           -- magnitudes apart so they cannot cancel.
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS VARCHAR)
                AS DOUBLE) AS sum_30m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
    """,
    doc="Per-event trailing 30-minute rolling aggregate per user — the "
        "time-interval RANGE frame (every event sees a different window "
        "start), which rows-based frames cannot express. Ordering on "
        "epoch MICROseconds keeps the frame boundary exact on both "
        "engines (an epoch-seconds cast would truncate sub-second "
        "timestamps differently from an INTERVAL frame). Decimal sum in "
        "the frame: frame re-accumulation order cannot perturb values. "
        "One shuffle on user_id; frame state is bounded by the interval.",
)
def events_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-1_800_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", F.col("ts").cast("string").alias("ts"),
        F.count("*").over(w).alias("n_30m"),
        F.sum(finite_or_fail(F.col("value"), "value").cast("decimal(18,2)")).over(w)
        .cast("double").alias("sum_30m"),
    )


@register(
    "embedding_cluster_stats",
    oracle="""
    WITH e AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS v
      FROM embeddings
    ), s AS (
      SELECT label, i,
             CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE) AS sv,
             count(*) AS n
      FROM e GROUP BY label, i
    ), t AS (
      SELECT label, n,
             CAST((sv / n) * (sv / n) AS DECIMAL(18,12)) AS sq
      FROM s
    )
    SELECT label, max(n) AS n_vecs,
           sqrt(CAST(sum(sq) AS DOUBLE)) AS centroid_norm
    FROM t GROUP BY label
    """,
    doc="Per-cluster embedding profile: vector count and CENTROID NORM "
        "(unit vectors tightly clustered -> norm near 1; spread -> near "
        "0) — the standard health check before IVF training or "
        "label-balanced sampling. Exact cross-engine parity via decimal "
        "accumulation at both reduction layers (per-dimension sums, then "
        "the across-dimension square sum), so no float-order drift. "
        "Shape here: posexplode to (label, dim) — dims x rows — then two "
        "tiny aggs; at 100 TB the per-partition Arrow matmul in "
        "operators/similarity.py computes the same centroids without the "
        "explode (this query is the oracle-checkable twin).",
)
def embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("label", F.posexplode("embedding").alias("i", "v"))
    s = e.groupBy("label", "i").agg(
        F.sum(finite_or_fail(F.col("v").cast("double"), "embedding[i]")
              .cast("decimal(18,8)"))
        .cast("double").alias("sv"),
        F.count("*").alias("n"),
    )
    sq = ((F.col("sv") / F.col("n")) * (F.col("sv") / F.col("n"))).cast(
        "decimal(18,12)"
    )
    return (
        s.select("label", F.col("n"), sq.alias("sq"))
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sqrt(F.sum("sq").cast("double")).alias("centroid_norm"),
        )
    )


@register(
    "dedup_paragraphs",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    idxs AS (
        SELECT doc_id, ws,
               unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS idx
        FROM base
    ),
    chunks AS (
        SELECT doc_id, CAST(idx AS INT) AS idx,
               array_to_string(ws[idx * 10 + 1 : idx * 10 + 10], ' ') AS chunk
        FROM idxs
    ),
    ranked AS (
        SELECT doc_id, idx, chunk,
               row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        FROM chunks
    ),
    kept AS (
        SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean_text,
               count(*) AS n_kept
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
    -- anchored on documents so a NULL-text / zero-chunk doc still
    -- surfaces with (clean_text '', n_chunks 0) — matching the Spark
    -- side's posexplode_outer totality contract
    SELECT d.doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           CAST(coalesce(t.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(t.n_chunks, 0) - coalesce(k.n_kept, 0) AS BIGINT)
               AS n_removed
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN kept k ON d.doc_id = k.doc_id
    """,
    doc="Sub-document boilerplate removal (operators/dedup.py:"
        "paragraph_dedup): segment every doc into 10-word chunks, keep "
        "only the globally first occurrence of each chunk (deterministic "
        "min (doc_id, idx) — never partition-order luck), reassemble in "
        "order.  The pipeline stage document-level dedup cannot do: "
        "repeated headers/footers/licence blocks vanish while the "
        "surrounding unique text survives.  Chunking is per-row codegen; "
        "keep-first is ONE window over the chunk hash; reassembly is one "
        "shuffle back on doc_id with array_sort(collect_list) restoring "
        "order deterministically.",
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.paragraph_dedup(docs, "text", "doc_id", chunk_words=10)
