"""Behavioral tests for [EXT] dedup / similarity / text operators on
synthetic frames with known ground truth (parity with DuckDB is covered in
test_oracle_parity.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.functions import text as TXT
from spreadsheet_etl_engine_spark.operators import dedup as DD
from spreadsheet_etl_engine_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),          # near dup
        (4, "completely different words about spark engines here"),
        (5, "dog lazy the over jumps fox brown quick the"),          # reordered bag of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = DD.exact_dedup(docs.withColumn("h", F.md5("text")), "h", "doc_id")
    by_id = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    assert by_id[1] == 2          # doc 2 collapsed into 1
    assert 2 not in by_id
    assert by_id[3] == 1 and by_id[4] == 1 and by_id[5] == 1


def test_minhash_identical_docs_share_signature(docs):
    sig = DD.minhash_signature(docs, "text", "doc_id", num_hashes=4).collect()
    rows = {r["doc_id"]: tuple(r[f"h{i}"] for i in range(4)) for r in sig}
    assert rows[1] == rows[2]
    assert rows[1] != rows[4]


def test_minhash_lsh_finds_exact_pair(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             DD.minhash_lsh_pairs(docs, "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_simhash_identical_and_near(docs):
    out = {r["doc_id"]: r["simhash"] for r in DD.simhash_sketch(docs, "text", "doc_id").collect()}
    assert out[1] == out[2]
    # near-dup differs in few bits, unrelated differs in many
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[1], out[3]) < ham(out[1], out[4])


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs
    assert 0.5 <= pairs[(1, 3)] < 1.0


def test_ngram_prefix_filter_is_lossless(spark):
    """PPJoin prefix filtering is an exact optimization: both plans must
    return identical pairs and jaccard values on the real documents table,
    with and without the max_df guard."""
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    real = load_table(spark, "/root/testdata/sf0.001", "documents")
    for kwargs in ({}, {"max_df_frac": 0.1}, {"threshold": 0.5}):
        base = {"threshold": 0.8, **kwargs}
        old = {(r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in
               DD.ngram_jaccard_pairs(real, "text", "doc_id",
                                      prefix_filter=False, **base).collect()}
        new = {(r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in
               DD.ngram_jaccard_pairs(real, "text", "doc_id",
                                      prefix_filter=True, **base).collect()}
        assert old == new and new, base


def test_ngram_jaccard_max_df_prunes(docs):
    # With max_df=1 every shared shingle is dropped -> no pairs at all.
    out = DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.1, max_df=1)
    assert out.count() == 0


def test_bow_fingerprint_catches_reordered(docs):
    out = {r["doc_id"]: r["fp"] for r in
           docs.select("doc_id", TXT.bow_fingerprint(F.col("text")).alias("fp")).collect()}
    assert out[1] == out[5]       # same bag of words
    assert out[1] != out[4]


def test_langid_obvious_cases(spark):
    rows = [
        (1, "the cat and the dog of the house is big"),
        (2, "el perro de la casa que los gatos"),
        (3, "der hund und die katze nicht das haus"),
        (4, "le chat et les chiens des maisons une porte"),
        (5, "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", TXT.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "und"}


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),    # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0]),   # opposite of 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_topk_bruteforce(vectors):
    out = SIM.topk_bruteforce(vectors, vectors.filter(F.col("vec_id") == 0),
                              "embedding", "vec_id", k=2).collect()
    ranked = [(r["neighbor_id"], r["rnk"]) for r in sorted(out, key=lambda r: r["rnk"])]
    assert ranked[0][0] == 1        # nearest is vector 1
    assert all(r["neighbor_id"] != 0 for r in out)  # self excluded


def test_topk_ivf_shape(vectors):
    out = SIM.topk_ivf(vectors, vectors.filter(F.col("vec_id") == 0),
                       "embedding", "vec_id", k=2, nlist=2, nprobe=2).collect()
    assert len(out) >= 1
    assert {"query_id", "neighbor_id", "cosine", "rnk"} <= set(out[0].asDict())


def test_embedding_neardup_with_lsh_planes(vectors):
    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    out = DD.embedding_neardup_pairs(vectors, "embedding", "vec_id",
                                     threshold=0.9, planes=planes)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs
    assert (0, 4) not in pairs


def test_embedding_lsh_pairs_subset_of_exact(spark):
    """Banded LSH candidates filtered by exact cosine must be a non-empty
    subset of the exact quadratic pairs at the same threshold."""
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    planes = DD.random_hyperplanes(8, 64, seed=7)
    lsh = {(r["id_a"], r["id_b"]) for r in DD.embedding_lsh_pairs(
        emb, "embedding", "vec_id", planes=planes, bands=4, threshold=0.42
    ).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in DD.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.42).collect()}
    assert lsh and lsh <= exact


def test_stratified_hash_sample_rates_and_determinism(spark):
    from spreadsheet_etl_engine_spark.operators.relational import (
        stratified_hash_sample,
    )
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    rates = {"A": 5, "N": 20, "R": 10}

    def counts():
        out = stratified_hash_sample(li, key, F.col("l_returnflag"), rates)
        return {r["l_returnflag"]: r["count"]
                for r in out.groupBy("l_returnflag").count().collect()}

    got = counts()
    assert got == counts()  # exact determinism, not approximate
    totals = {r["l_returnflag"]: r["count"]
              for r in li.groupBy("l_returnflag").count().collect()}
    for flag, pct in rates.items():
        frac = got.get(flag, 0) / totals[flag]
        assert abs(frac - pct / 100) < 0.03, (flag, frac)


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    """Exhausting both the label rounds and the star fallback's budget
    with the graph still moving must fail loudly — silently splitting
    one cluster into several canonical reps is the failure mode dedup
    cannot detect downstream."""
    import pytest as _pytest

    monkeypatch.setattr(DD, "_STAR_MAX_ROUNDS", 1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], ["id_a", "id_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(chain, max_iter=2)


def test_embedding_lsh_pairs_validates_band_split(spark):
    import pytest as _pytest

    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    planes = DD.random_hyperplanes(8, 64)
    for bands in (3, 16, 0):
        with _pytest.raises(ValueError, match="evenly divide"):
            DD.embedding_lsh_pairs(emb, "embedding", "vec_id",
                                   planes=planes, bands=bands)


def test_connected_components_chain_triangle_pair(spark):
    """A 4-node chain (needs >1 propagation round), a triangle, and an
    isolated pair — every node labels with its component's min id."""
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),        # chain 10-11-12-13
         (20, 21), (21, 22), (20, 22),        # triangle
         (30, 31)],                           # pair
        ["id_a", "id_b"])
    got = {r["node"]: r["component"] for r in DD.connected_components(edges).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_components_edge_pin_runs_only_the_distinct_shuffle(spark):
    """Pinning the symmetrized edge list runs one shuffle, the
    ``distinct``'s, and then the pin itself.  A pre-partition on the
    round-join key would add a second full-edge shuffle for nothing:
    the pinned edges report no partitioning, so every round's join
    re-exchanges them anyway."""
    sc = spark.sparkContext
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "id_a long, id_b long")
    sc.setJobGroup("cc-edge-pin", "cc-edge-pin")
    try:
        DD.connected_components(
            edges, _after_edges_pinned=lambda: sc.setJobGroup(
                "cc-rounds", "cc-rounds")).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup("cc-edge-pin")
              for s in tracker.getJobInfo(j).stageIds}
    ran = sorted(s for s in stages
                 if tracker.getStageInfo(s).numCompletedTasks > 0)
    # the distinct's shuffle-map stage + the localCheckpoint result stage
    assert len(ran) == 2, ran


def test_star_components_equals_label_propagation(spark):
    """The star fallback (alternating large-star/small-star, Kiveris et
    al. 2014; forced by max_iter=1, which leaves labels moving on any
    graph with an edge) must produce EXACTLY the min-label labels on
    every graph shape the label tests cover — chains, triangles, cliques
    (the megadup shape), self-loops/isolated nodes, id-reversed chains,
    and a seeded random graph."""
    import random

    rng = random.Random(11)
    shapes = {
        "chain": [(i, i + 1) for i in range(1, 20)],
        "reversed-chain": [(i + 1, i) for i in range(1, 20)],
        "triangle+pair": [(10, 11), (11, 12), (12, 13), (20, 21),
                          (21, 22), (20, 22), (30, 31)],
        "clique": [(i, j) for i in range(1, 12) for j in range(i + 1, 12)],
        "selfloop+pair": [(5, 5), (1, 2)],
        "random": [(rng.randrange(60), rng.randrange(60))
                   for _ in range(80)],
    }
    for name, e in shapes.items():
        edges = spark.createDataFrame(e, "id_a long, id_b long")
        lab = {(r["node"], r["component"])
               for r in DD.connected_components(edges, max_iter=40).collect()}
        star = {(r["node"], r["component"])
                for r in DD.connected_components(
                    edges, max_iter=1).collect()}
        assert lab == star, f"{name}: {sorted(lab ^ star)[:10]}"


def test_components_property_vs_union_find(spark):
    """Property fuzz: BOTH round structures — label propagation to
    convergence (max_iter=40) and the star fallback (max_iter=1) — must
    equal a trivial pure-Python union-find on arbitrary small graphs:
    duplicate edges, reversed orientations, self-loops, isolated stars,
    whatever Hypothesis finds.  Comparing both against an independent model is
    stronger than star==label alone (a shared defect cannot hide)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge = st.tuples(st.integers(0, 23), st.integers(0, 23))

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(edges=st.lists(edge, min_size=1, max_size=40))
    def run(edges):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {(n, find(n)) for n in list(parent)}
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for max_iter in (40, 1):
            got = {(r["node"], r["component"])
                   for r in DD.connected_components(
                       df, max_iter=max_iter).collect()}
            assert got == expected, (max_iter, sorted(got ^ expected)[:8])

    run()


def test_star_components_converges_where_label_cannot(spark, tmp_path):
    """A 200-node chain (diameter 199) exceeds the default 25 label
    rounds; the default call finishes it through the star fallback,
    which contracts it in O(log n) rounds — in both checkpoint modes,
    with reliable mode keeping only the sym pin and the final round."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "id_a long, id_b long")
    want = {i: 1 for i in range(1, 201)}
    got = {r["node"]: r["component"]
           for r in DD.connected_components(chain).collect()}
    assert got == want
    ckpt = tmp_path / "ckpt"
    reliable = {r["node"]: r["component"]
                for r in DD.connected_components(
                    chain, checkpoint_dir=str(ckpt)).collect()}
    assert reliable == want
    rounds = sorted(p.name for p in ckpt.iterdir())
    assert len(rounds) == 2 and rounds[0] == "round-00000", rounds


def test_star_components_reliable_checkpoint_mode(spark, tmp_path):
    """The star fallback (forced by max_iter=1) must honor the same
    explicit parquet round lifecycle as the label loop: superseded
    rounds — the last label round included — deleted, the result
    readable from the surviving files, session checkpoint dir
    untouched."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)] + [(100, 101)],
        "id_a long, id_b long")
    before_ckpt_dir = spark.sparkContext.getCheckpointDir()
    local = {(r["node"], r["component"])
             for r in DD.connected_components(
                 edges, max_iter=1).collect()}
    ckpt = tmp_path / "ckpt"
    reliable_df = DD.connected_components(
        edges, max_iter=1, checkpoint_dir=str(ckpt))
    reliable = {(r["node"], r["component"]) for r in reliable_df.collect()}
    assert local == reliable
    assert {c for _, c in local} == {1, 100}
    assert spark.sparkContext.getCheckpointDir() == before_ckpt_dir
    rounds = sorted(p.name for p in ckpt.iterdir())
    # surviving: the sym pin (round-00000, referenced by the node set
    # until the end) and the final edge round — the label rounds and
    # the superseded edge rounds (incl. the initial canonicalization)
    # are deleted as they go.
    assert len(rounds) == 2 and rounds[0] == "round-00000", rounds
    assert reliable_df.count() == len(local)


def test_duplicate_clusters_equals_naive_path(spark):
    """duplicate_clusters must return EXACTLY the naive
    connected_components(minhash_lsh_pairs(...)) output — including on a
    corpus with an injected mega-duplicate cluster, the pathology the
    collapsed path exists for.  Also pins the edge-volume claim: the
    naive path's pair count is quadratic in the cluster size while the
    collapsed path's edge count is linear."""
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    mega = spark.range(200).select(
        (F.lit(1_000_000) + F.col("id")).alias("doc_id"),
        F.lit("boilerplate terms of service text repeated on every "
              "mirrored page of the crawl").alias("text"),
    )
    docs = base.select("doc_id", "text").unionByName(mega)

    kw = dict(num_hashes=8, bands=4)
    naive_pairs = DD.minhash_lsh_pairs(docs, "text", "doc_id", **kw)
    naive = {(r["node"], r["component"])
             for r in DD.connected_components(naive_pairs).collect()}
    collapsed = {(r["node"], r["component"])
                 for r in DD.duplicate_clusters(
                     docs, "text", "doc_id", **kw).collect()}
    assert collapsed == naive
    # The mega-cluster is one component labelled by its min id, and every
    # injected doc is in it.
    assert {(1_000_000 + i, 1_000_000) for i in range(200)} <= collapsed
    # The star fallback (forced by max_iter=1) must compose with the
    # collapsed edge build end-to-end (the long-chain deployment path)
    # and give the identical clustering.
    star = {(r["node"], r["component"])
            for r in DD.duplicate_clusters(
                docs, "text", "doc_id", max_iter=1, **kw).collect()}
    assert star == naive

    # Edge accounting: 200 identical docs cost the naive path
    # >= C(200,2) = 19900 pairs; the collapsed path's whole edge list
    # (star + rep pairs) stays linear in the corpus.
    n_naive = naive_pairs.count()
    sig = DD.minhash_signature(docs, "text", "doc_id", num_hashes=8)
    hcols = [f"h{i}" for i in range(8)]
    reps = sig.groupBy(*hcols).agg(F.min("doc_id").alias("doc_id"))
    n_star = sig.count() - reps.count()
    keys = DD.band_keys_from_signature(reps, "doc_id", num_hashes=8, bands=4)
    a, b = keys.alias("a"), keys.alias("b")
    n_rep_pairs = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    assert n_naive >= 19_900                       # quadratic in the cluster
    assert n_star + n_rep_pairs < 2 * docs.count() # linear in the corpus


def test_value_outliers_constant_group_flags_nothing(spark, tmp_path):
    """A constant-valued group has no 3-sigma outliers — and must not
    kill the query.  Without the exact min=max guard, sigma is double
    cancellation residue (or exact 0) while the raw double value differs
    from the decimal-rounded mean by ~1e-17, so every row of the group
    'exceeded 3 sigma' and the z-score division was a garbage ~1e6 or an
    ANSI DIVIDE_BY_ZERO that crashed the whole query (r10 review pass 4,
    reproduced before the fix)."""
    from spreadsheet_etl_engine_spark.registry import REGISTRY

    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    # 99 small + 1 extreme: a single outlier among n rows is bounded at
    # z <= (n-1)/sqrt(n), so n must be large enough for 3 sigma to be
    # reachable at all (n=10 caps at 2.85).
    rows = (
        [(i, t0, 7, "buy", 0.11, None) for i in range(10)]      # constant
        + [(100 + i, t0, 8, "view", float(i % 10), None) for i in range(99)]
        + [(199, t0, 8, "view", 1000.0, None)]                  # outlier
    )
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/events.parquet")
    out = REGISTRY["events_value_outliers"].fn(spark, sf).collect()
    assert {r["event_type"] for r in out} == {"view"}
    assert [r["event_id"] for r in out] == [199]
    assert abs(out[0]["zscore"]) < 15  # sane magnitude, not residue junk


def test_value_outliers_near_constant_large_magnitude_group(spark, tmp_path):
    """r10 ADVICE finding 1: min != max only excludes EXACTLY-constant
    groups.  A non-constant group near the decimal cap (values ~1e8,
    spread 0.01) has sxx/n and mean^2 ~1e16 where double ulp is ~2, so
    the clamped variance lands at exactly 0.0 WITH min != max — the
    z-score division then raised ANSI DIVIDE_BY_ZERO (verified: the
    variance really is 0.0 for this fixture).  The fix filters v_std > 0
    on the engine and m.sigma > 0 on the oracle — the identical double
    expression both sides, so parity is preserved by construction."""
    from spreadsheet_etl_engine_spark.registry import REGISTRY

    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    rows = (
        # near-constant at large magnitude: min != max, variance -> 0.0
        [(i, t0, 7, "buy", 1e8 + (0.01 if i % 2 else 0.0), None)
         for i in range(100)]
        + [(200 + i, t0, 8, "view", float(i % 10), None) for i in range(99)]
        + [(299, t0, 8, "view", 1000.0, None)]                  # outlier
    )
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/events.parquet")
    out = REGISTRY["events_value_outliers"].fn(spark, sf).collect()
    assert {r["event_type"] for r in out} == {"view"}
    assert [r["event_id"] for r in out] == [299]


def test_duplicate_clusters_banding_validated(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four")], ["doc_id", "text"])
    for nh, bands in ((8, 3), (8, 0), (0, 4)):
        with pytest.raises(ValueError, match="evenly divide"):
            DD.duplicate_clusters(docs, "text", "doc_id",
                                  num_hashes=nh, bands=bands)
    with pytest.raises(ValueError, match="evenly divide"):
        DD.band_keys_from_signature(
            spark.createDataFrame([(1, 2)], ["doc_id", "h0"]),
            "doc_id", num_hashes=1, bands=0)


def test_upsert_semantics(spark):
    from spreadsheet_etl_engine_spark.operators.relational import upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "v"])
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], ["k", "name", "v"])
    got = {r["k"]: (r["name"], r["v"]) for r in upsert(target, updates, "k").collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0),   # update wins
                   3: ("c", 30.0), 4: ("d", 40.0)}   # insert of new key

    # A feed with duplicate keys breaks the one-row-per-key invariant
    # unless dedup_updates resolves it deterministically.
    dupes = spark.createDataFrame(
        [(2, "B1", 1.0), (2, "B2", 2.0)], ["k", "name", "v"])
    out = upsert(target, dupes, "k", dedup_updates=True).collect()
    assert len(out) == len({r["k"] for r in out}) == 3
    assert {r["k"]: r["name"] for r in out}[2] == "B2"  # max-struct row wins


def test_scd2_apply_versions(spark):
    from spreadsheet_etl_engine_spark.operators.relational import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", "2020-01-01", "2022-01-01", False),   # history row
         (1, "b", "2022-01-01", None, True),            # current, will change
         (2, "x", "2020-01-01", None, True)],           # current, unchanged
        "k long, attr string, valid_from string, valid_to string, is_current boolean")
    changes = spark.createDataFrame(
        [(1, "c", "2024-01-01"),     # attr change -> close + reopen
         (2, "x", "2024-01-01"),     # identical attrs -> no-op
         (3, "z", "2024-01-01")],    # new key -> first version
        "k long, attr string, eff string")
    got = {(r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
           for r in scd2_apply(dim, changes, "k", ["attr"], effective_col="eff").collect()}
    assert got == {
        (1, "a", "2020-01-01", "2022-01-01", False),   # history untouched
        (1, "b", "2022-01-01", "2024-01-01", False),   # closed
        (1, "c", "2024-01-01", None, True),            # new version
        (2, "x", "2020-01-01", None, True),            # no-op
        (3, "z", "2024-01-01", None, True),            # first version
    }


def test_snapshot_diff_with_null_transitions(spark):
    from spreadsheet_etl_engine_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (5, 50.0)], "k long, v double")
    new = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (4, 40.0), (5, None)], "k long, v double")
    got = {(r["k"], r["change_type"])
           for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    # NULL->value and value->NULL both count as changed (null-safe eq).
    assert got == {(4, "added"), (3, "removed"), (2, "changed"), (5, "changed")}


def test_salted_join_matches_plain_join(spark):
    from spreadsheet_etl_engine_spark.operators.relational import salted_join

    # Heavily skewed left side: one hot key.
    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 1), (3, 2)], ["k", "v"]
    )
    right = spark.createDataFrame([(1, "hot"), (2, "warm"), (4, "unused")], ["k", "name"])
    out = salted_join(left, right, key="k", salt=8)
    plain = left.join(right, "k")
    assert out.count() == plain.count() == 501  # k=1 x500, k=2 x1, k=3 unmatched
    assert set(out.columns) == set(plain.columns)
    got = out.groupBy("k").count().orderBy("k").collect()
    assert [(r["k"], r["count"]) for r in got] == [(1, 500), (2, 1)]


def test_salted_join_accepts_spark_mode_aliases(spark):
    """Every left-preserving spelling Spark itself accepts must pass the
    guard (r7 fix: 'leftouter'/'left_outer'/... used to raise), and the
    right/full modes must still fail loud under any spelling."""
    import pytest

    from spreadsheet_etl_engine_spark.operators.relational import salted_join

    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    right = spark.createDataFrame([(1, "x"), (4, "y")], ["k", "name"])
    expect = {
        "left": 3, "leftouter": 3, "left_outer": 3, "LEFT_OUTER": 3,
        "inner": 1,
        "semi": 1, "leftsemi": 1, "left_semi": 1,
        "anti": 2, "leftanti": 2, "left_anti": 2,
    }
    for how, n in expect.items():
        assert salted_join(left, right, key="k", salt=4, how=how).count() == n, how
    for how in ("right", "rightouter", "right_outer", "full", "fullouter",
                "full_outer", "outer", "cross"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(left, right, key="k", how=how)


def test_ivf_recall_against_bruteforce(spark):
    """IVF (bounded-sample spherical k-means centroids) with nprobe=half
    the lists must recover most of the true top-k on the real embeddings
    table."""
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.topk_bruteforce(emb, queries, "embedding", "vec_id", k=5)
    approx = SIM.topk_ivf(emb, queries, "embedding", "vec_id",
                          k=5, nlist=8, nprobe=4, spill=2)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    # Measured 0.94 at this config (sample-trained spherical-kmeans
    # buckets + spill=2 corpus replication; MLlib-trained buckets read
    # 0.96) and 0.93-0.96 across the 10x scale probe; the
    # floor keeps ~half that margin (r8 verdict item 6) so a silent
    # quality regression fails well before recall halves.
    assert recall >= 0.9, f"IVF recall too low: {recall}"


def test_pq_topk_recall_adc_and_determinism(spark):
    """r14: product-quantization ANN — recall vs exact on the real
    embeddings (near-random vectors are PQ's worst case, so a green
    floor here means the rerank stage is doing its job), the
    ADC≈cosine quantization bound, byte-width/code-domain claims,
    NULL-vector NULL-in/NULL-out, run-to-run determinism, and the
    precomputed-codebooks production path."""
    import numpy as np

    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.topk_bruteforce(emb, queries, "embedding", "vec_id", k=5)
    approx = SIM.topk_pq(emb, queries, "embedding", "vec_id",
                         k=5, m=8, ksub=256, rerank=16)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    # Measured 1.00 at this config at both test scales (the registry
    # query's parameters); floor keeps half the margin like the IVF
    # gate so a silent quality regression trips early.
    assert recall >= 0.8, f"PQ recall too low: {recall}"
    # Determinism: seeded training + tie-broken windows → identical
    # result sets across runs.
    again = {(r["query_id"], r["neighbor_id"])
             for r in SIM.topk_pq(emb, queries, "embedding", "vec_id",
                                  k=5, m=8, ksub=256, rerank=16).collect()}
    assert got == again

    # Code column contract: m entries, every code in [0, ksub); the
    # ADC score of a vector against its OWN codes approximates the
    # self-cosine (1.0) within the quantization error bound.
    books = SIM.train_pq_codebooks(emb, "embedding", m=8, ksub=256)
    B = np.asarray(books)
    assert B.shape == (8, 256, 8)
    coded = SIM.pq_encode(emb.limit(64), "embedding", books).collect()
    for r in coded:
        assert len(r["pq_codes"]) == 8
        assert all(0 <= c < 256 for c in r["pq_codes"])
        v = np.asarray(r["embedding"], dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        recon = np.concatenate([B[j, c] for j, c in enumerate(r["pq_codes"])])
        # ADC(self) = <v, recon>; with 8-bit codebooks on unit vectors
        # the reconstruction keeps most of the norm.
        assert float(v @ recon) > 0.5, r["vec_id"]

    # NULL vectors: encode to NULL codes; never become candidates.
    rows = [(100, None), (101, [1.0] * 64)]
    nul = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.pq_encode(nul, "embedding", books).collect()
    by_id = {r["vec_id"]: r["pq_codes"] for r in out}
    assert by_id[100] is None and by_id[101] is not None
    # Precomputed codebooks skip training (production artifact path);
    # empty query set returns an empty frame with the contract schema.
    pre = SIM.topk_pq(emb, queries.limit(2), "embedding", "vec_id",
                      k=3, codebooks=books)
    assert pre.count() == 6
    empty = SIM.topk_pq(emb, emb.filter(F.col("vec_id") < 0),
                        "embedding", "vec_id", k=3, codebooks=books)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "neighbor_id", "cosine", "rnk"]


def test_ivfpq_recall_determinism_and_contracts(spark):
    """r15: the composed IVF-ADC ANN (coarse probe prunes candidate
    volume, residual-PQ ADC prunes width, exact rerank) — recall vs the
    exact twin on the real embeddings, run-to-run determinism, the
    precomputed-index production path (both halves or neither), NULL
    handling, and the named dimension-mismatch errors."""
    import numpy as np

    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.topk_bruteforce(emb, queries, "embedding", "vec_id", k=5)
    approx = SIM.topk_ivfpq(emb, queries, "embedding", "vec_id",
                            k=5, nlist=8, nprobe=4, m=8, ksub=256,
                            rerank=16)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    # Near-random embeddings are the worst case for BOTH halves (weak
    # cluster structure + high quantization error); measured 0.90 at
    # this config (0.94 at sf0.01) with spill=2 replication — spill=1
    # read 0.68, the same boundary-loss mechanism the plain IVF gate
    # documents.  The floor keeps ~half the margin like the IVF/PQ
    # gates.
    assert recall >= 0.8, f"IVF-ADC recall too low: {recall}"
    again = {(r["query_id"], r["neighbor_id"])
             for r in SIM.topk_ivfpq(emb, queries, "embedding", "vec_id",
                                     k=5, nlist=8, nprobe=4, m=8,
                                     ksub=256, rerank=16).collect()}
    assert got == again

    # Precomputed-index path: train once, search twice, same answer;
    # the index artifact is (centroids, residual codebooks).
    cents, books = SIM.train_ivfpq(emb, "embedding", nlist=8, m=8,
                                   ksub=256)
    assert np.asarray(books).shape == (8, 256, 8)
    pre = {(r["query_id"], r["neighbor_id"])
           for r in SIM.topk_ivfpq(emb, queries, "embedding", "vec_id",
                                   k=5, nprobe=4, rerank=16,
                                   centroids=cents,
                                   codebooks=books).collect()}
    assert pre == got
    # Passing one half of the index is a named error, not a silent
    # retrain or a mis-assigned residual search.
    with pytest.raises(ValueError, match="BOTH centroids and codebooks"):
        SIM.topk_ivfpq(emb, queries, "embedding", "vec_id",
                       codebooks=books)
    # Mismatched halves: named dimension error, driver-side.
    with pytest.raises(ValueError, match=r"m\*dsub"):
        SIM.topk_ivfpq(emb, queries, "embedding", "vec_id",
                       centroids=[[1.0, 0.0]], codebooks=books)
    with pytest.raises(ValueError, match=r"m\*dsub"):
        SIM.ivfpq_encode(emb, "embedding", [[1.0, 0.0]], books)
    # The encoder's index columns: NULL-in/NULL-out on both, codes in
    # [0, ksub), centroid ids in [0, nlist).
    mix = spark.createDataFrame(
        [(100, None), (101, [1.0] * 64)],
        "vec_id long, embedding array<float>")
    rows = {r["vec_id"]: r for r in
            SIM.ivfpq_encode(mix, "embedding", cents, books).collect()}
    assert rows[100]["centroid_id"] is None and rows[100]["pq_codes"] is None
    assert 0 <= rows[101]["centroid_id"] < 8
    assert len(rows[101]["pq_codes"]) == 8
    assert all(0 <= c < 256 for c in rows[101]["pq_codes"])
    # Empty query set: contract schema, zero rows.
    empty = SIM.topk_ivfpq(emb, emb.filter(F.col("vec_id") < 0),
                           "embedding", "vec_id", centroids=cents,
                           codebooks=books)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "neighbor_id", "cosine", "rnk"]


def test_ivfpq_persisted_index_partition_pruning(spark, tmp_path):
    """r15: the 100 TB claim behind the index layout — the encoded
    ``(id, centroid_id, pq_codes)`` table persisted PARTITIONED BY
    centroid_id turns the probed-list isin filter into real partition
    pruning: a probe of nprobe lists reads only those lists' files
    (inputFiles is the ground truth; the plan's PartitionFilters does
    the work).  Inline (unpersisted) the filter still prunes rows
    before the ADC-scan kernel, but only the persisted form skips the
    read itself."""
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents, books = SIM.train_ivfpq(emb, "embedding", nlist=8, m=8,
                                   ksub=256)
    idx_path = str(tmp_path / "ivfpq_index")
    (SIM.ivfpq_encode(emb.select("vec_id", "embedding"), "embedding",
                      cents, books)
     .write.partitionBy("centroid_id").parquet(idx_path))
    index = spark.read.parquet(idx_path)
    probed = index.filter(F.col("centroid_id").isin([0, 3]))
    # The probe lands in PartitionFilters (file skipping), not a
    # post-scan Filter: the scan never opens non-probed lists.
    plan = probed._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "centroid_id" in pf[0], plan
    # The probed read returns exactly the probed lists' rows.
    assert set(
        r["centroid_id"] for r in
        probed.select("centroid_id").distinct().collect()) <= {0, 3}
    # And the persisted codes are the same ones the inline encoder
    # produces (the index is a cache, not a fork of the algorithm).
    inline = {(r["vec_id"], r["centroid_id"], tuple(r["pq_codes"]))
              for r in SIM.ivfpq_encode(
                  emb.select("vec_id", "embedding"), "embedding",
                  cents, books).collect()}
    persisted = {(r["vec_id"], r["centroid_id"], tuple(r["pq_codes"]))
                 for r in index.select(
                     "vec_id", "centroid_id", "pq_codes").collect()}
    assert inline == persisted


def test_similarity_null_contracts_and_named_errors(spark):
    """r15 review pass 11 pins (similarity.py + vectors.py read against
    the determinism and named-error contracts): precomputed-codebook
    validation fails loud by name (driver-side where possible), training
    rejects non-finite samples with the tool that locates them, and
    every vector kernel honors NULL-in/NULL-out instead of dying in
    np.stack or silently folding NULLs into LSH bucket 0."""
    from spreadsheet_etl_engine_spark.functions import vectors as VEC
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = SIM.train_pq_codebooks(emb, "embedding", m=4, ksub=16,
                                   sample=256)
    # Malformed codebook nests: named, before any job runs.
    with pytest.raises(ValueError, match="rectangular"):
        SIM.pq_encode(emb, "embedding", [[[0.0, 1.0]], [[0.0]]])
    with pytest.raises(ValueError, match=r"shape \(m, ksub, dsub\)"):
        SIM.topk_pq(emb, emb.limit(1), "embedding", "vec_id",
                    codebooks=[[1.0, 2.0]])
    # Query-vector dim != codebooks' m*dsub: named, with offending ids.
    q32 = spark.createDataFrame([(7, [1.0] * 32)],
                                "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=r"m\*dsub"):
        SIM.topk_pq(emb, q32, "embedding", "vec_id", codebooks=books)
    # Corpus-vector dim mismatch raises the SAME named message (from
    # inside the Arrow batch, so Spark wraps it).
    with pytest.raises(Exception, match=r"m\*dsub"):
        SIM.pq_encode(q32, "embedding", books).collect()
    # Non-finite training vectors: named, pointing at the quality tool.
    nan = spark.createDataFrame(
        [(1, [float("nan")] * 64), (2, [1.0] * 64)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="non-finite"):
        SIM.train_pq_codebooks(nan, "embedding", m=8, ksub=4, sample=8)
    # NULL embeddings: NULL centroid / NULL probes, no candidates, and
    # the sample trainer skips them instead of crashing on float(None).
    mix = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None), (3, [0.5] * 8)],
        "vec_id long, embedding array<double>")
    cents = [[1.0] * 8, [-1.0] * 8]
    got = {r["vec_id"]: r["centroid_id"]
           for r in SIM.assign_centroid(mix, "embedding", cents).collect()}
    assert got[2] is None and got[1] == 0
    pr = {r["vec_id"]: r["probes"]
          for r in SIM.probe_centroids(mix, "embedding", cents, 2).collect()}
    assert pr[2] is None and list(pr[1]) == [0, 1]
    lite = SIM.train_centroids_lite(mix, "embedding", nlist=2)
    assert len(lite) == 2 and all(v is not None for c in lite for v in c)
    out = SIM.topk_ivf(mix, mix.filter(F.col("vec_id") == 1), "embedding",
                       "vec_id", k=2, nlist=2, nprobe=2)
    assert {r["neighbor_id"] for r in out.collect()} == {3}
    # LSH signature: NULL vector → NULL signature, never bucket 0.
    pairs = spark.createDataFrame(
        [(None, [1.0, 0.0]), ([1.0, 0.0], None), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>")
    planes = [[1.0, 0.0], [0.0, 1.0]]
    sigs = pairs.select(
        VEC.hyperplane_signature(F.col("a"), planes).alias("s")).collect()
    # [1,0] sits on the non-negative side of both planes (dot 1 and 0).
    assert sigs[0]["s"] is None and sigs[1]["s"] == 3 and sigs[2]["s"] == 3


def test_asof_join_directions(spark):
    from spreadsheet_etl_engine_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 15, "p3")], ["uid", "t", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 20, "b"), (1, 25, "c"), (2, 30, "d")], ["uid", "t", "label"]
    )
    back = asof_join(left, right, on="t", by="uid",
                     right_cols={"label": "prev_label"}, direction="backward")
    got = {(r["uid"], r["t"]): r["prev_label"] for r in back.collect()}
    # t=20 matches the equal-timestamp right row (asof <=).
    assert got == {(1, 10): "a", (1, 20): "b", (2, 15): None}

    fwd = asof_join(left, right, on="t", by="uid",
                    right_cols={"label": "next_label"}, direction="forward")
    got_f = {(r["uid"], r["t"]): r["next_label"] for r in fwd.collect()}
    assert got_f == {(1, 10): "b", (1, 20): "b", (2, 15): "d"}

    with pytest.raises(ValueError):
        asof_join(left, right, on="t", by="uid", right_cols={}, direction="sideways")


def test_heavy_hitters_sketch_vs_exact(spark, sf_dir):
    """The approx_top_k sketch must surface every exact heavy hitter
    (threshold 1/200 of the corpus — far above top-32 rank at any SF)
    with counts within 5%: at test scale the sketch tracks far more
    items than exist, so counts should in fact be exact."""
    from spreadsheet_etl_engine_spark import registry

    exact = {
        r["tok"]: r["n"]
        for r in registry.get("agg_heavy_hitters").fn(spark, sf_dir).collect()
    }
    sketch = {
        r["tok"]: r["n_approx"]
        for r in registry.get("agg_heavy_hitters_approx").fn(spark, sf_dir).collect()
    }
    assert 0 < len(exact) <= 32, "threshold should yield a small hitter set"
    missing = set(exact) - set(sketch)
    assert not missing, f"exact heavy hitters absent from sketch top-k: {missing}"
    for tok, n in exact.items():
        assert abs(sketch[tok] - n) <= max(1, 0.05 * n), (tok, n, sketch[tok])


def test_quality_rank_approx_agreement(spark, sf_dir):
    """The approx-quantile keep/drop decision (the dominant-language scale
    path) must agree with the exact in-language percent_rank decision on
    nearly every document — the embedded self-audit columns are the
    contract, so pin them."""
    from spreadsheet_etl_engine_spark import registry

    rows = registry.get("text_quality_rank_approx").fn(spark, sf_dir).collect()
    assert rows, "expected one row per language"
    for r in rows:
        assert r["n_docs"] > 0
        # Measured 0.984-1.0 per language at sf0.001 and sf0.01; the
        # floor keeps ~half that margin over the old 0.9 pin (r8 verdict
        # item 6) while leaving slack for testdata regeneration drift.
        assert r["agreement_frac"] >= 0.94, (r["lang"], r["agreement_frac"])
        # keep-rates land near the 80% target from both paths
        assert abs(r["n_keep_approx"] - r["n_keep_exact"]) <= max(
            5, 0.1 * r["n_docs"]
        ), (r["lang"], r["n_keep_approx"], r["n_keep_exact"])


def test_upsert_key_only_updates(spark):
    """An update feed carrying ONLY key columns (e.g. a tombstone-refresh
    feed) must work with dedup_updates=True: duplicate keys are identical
    rows, so dedup degenerates to distinct — not an opaque analysis error
    from an empty struct agg."""
    from spreadsheet_etl_engine_spark.operators.relational import upsert

    target = spark.createDataFrame([(1,), (2,)], ["k"])
    ups = spark.createDataFrame([(2,), (2,), (3,)], ["k"])
    out = sorted(r["k"] for r in upsert(target, ups, "k", dedup_updates=True).collect())
    assert out == [1, 2, 3]


def test_scd2_null_effective_date_raises(spark):
    """A change row with a NULL effective date would silently vanish from
    history (matches neither branch); scd2_apply must fail the job loudly
    instead."""
    from spreadsheet_etl_engine_spark.operators.relational import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", "2020-01-01", None, True)],
        "k long, attr string, valid_from string, valid_to string, is_current boolean")
    changes = spark.createDataFrame(
        [(1, "b", None)], "k long, attr string, eff string")
    with pytest.raises(Exception, match="scd2_apply"):
        scd2_apply(dim, changes, "k", ["attr"], effective_col="eff").collect()


def test_incremental_dedup_flags(spark):
    from spreadsheet_etl_engine_spark.operators import dedup as DD

    seen = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content about spark engines"),
            (4, "hi"),  # too short to shingle
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # exact dup
            (3, "the quick brown fox jumps over the lazy cat"),   # near dup
            (5, "entirely novel text with no overlap whatsoever here"),
            (7, "hi"),  # short: no bands -> exact-only routing
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in DD.incremental_dedup(batch, seen, "text", "doc_id").collect()
    }
    assert out[1] == (True, True)
    assert out[3] == (False, True)
    assert out[5] == (False, False)
    assert out[7] == (True, False)  # "hi" exists in seen; unshingleable

    # The maintained-index path must agree with the raw-corpus path.
    idx = DD.seen_dedup_index(seen, "text", "doc_id")
    out_idx = {
        r["doc_id"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in DD.incremental_dedup(
            batch, None, "text", "doc_id", seen_index=idx
        ).collect()
    }
    assert out_idx == out

    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        DD.incremental_dedup(batch, seen, "text", "doc_id", seen_index=idx)
    with pytest.raises(ValueError, match="exactly one"):
        DD.incremental_dedup(batch, None, "text", "doc_id")
    with pytest.raises(ValueError, match="evenly divide"):
        DD.seen_dedup_index(seen, "text", "doc_id", bands=3)


def test_incremental_dedup_index_roundtrip_via_parquet(spark, tmp_path):
    """The daily continuous-ingestion flow the docstring promises: build
    the seen index ONCE, persist to parquet, probe a batch from the
    STORED index, accept the batch by unioning its own hashes/band keys
    into the stored tables, and probe the next batch from the updated
    store — at every step equal to recomputing from the full raw corpus.
    The raw seen text is never re-scanned after the initial build."""
    from pyspark.sql import functions as F

    from spreadsheet_etl_engine_spark.operators import dedup as DD

    seen = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy cat"),  # near dup
            (11, "entirely novel text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [
            (20, "entirely novel text with no overlap whatsoever here"),
            # near-dup of batch1's novel doc: only detectable if the
            # store really absorbed batch1
            (21, "entirely novel text with no overlap whatsoever there"),
            (22, "some fresh third-wave content unseen anywhere before"),
        ],
        "doc_id long, text string",
    )
    hdir, bdir = str(tmp_path / "hashes"), str(tmp_path / "bands")

    def flags(df):
        return {
            r["doc_id"]: (r["is_exact_dup"], r["is_near_dup"])
            for r in df.collect()
        }

    # Day 0: build + persist.
    hashes, bands = DD.seen_dedup_index(seen, "text", "doc_id")
    hashes.write.mode("overwrite").parquet(hdir)
    bands.write.mode("overwrite").parquet(bdir)

    # Day 1: probe batch1 from the STORE; must equal the raw recompute.
    stored = (spark.read.parquet(hdir), spark.read.parquet(bdir))
    got1 = flags(DD.incremental_dedup(batch1, None, "text", "doc_id",
                                      seen_index=stored))
    want1 = flags(DD.incremental_dedup(batch1, seen, "text", "doc_id"))
    assert got1 == want1 and got1[10] == (False, True)

    # Accept batch1: union its OWN hashes/keys into the store (the
    # incremental maintenance step — no raw-text rescan of `seen`).
    b1h, b1b = DD.seen_dedup_index(batch1, "text", "doc_id")
    upd_h = spark.read.parquet(hdir).union(b1h).distinct()
    upd_b = spark.read.parquet(bdir).union(b1b).distinct()
    upd_h.write.mode("overwrite").parquet(hdir + ".v2")
    upd_b.write.mode("overwrite").parquet(bdir + ".v2")

    # Day 2: probe batch2 from the UPDATED store; must equal a full
    # recompute over seen ∪ batch1.
    stored2 = (spark.read.parquet(hdir + ".v2"),
               spark.read.parquet(bdir + ".v2"))
    got2 = flags(DD.incremental_dedup(batch2, None, "text", "doc_id",
                                      seen_index=stored2))
    want2 = flags(DD.incremental_dedup(
        batch2, seen.unionByName(batch1), "text", "doc_id"))
    assert got2 == want2
    assert got2[20] == (True, True)    # exact copy of an accepted doc
    assert got2[21] == (False, True)   # near-dup only via absorbed batch1
    assert got2[22] == (False, False)


def test_incremental_dedup_consistent_with_pairs_operator(spark):
    """Cross-path check: a batch doc is near-dup-flagged iff the SELF-JOIN
    pairs operator over the union corpus links it to a seen doc — two
    independent code paths (semi join vs self join) over the same banding
    must agree."""
    import random

    from pyspark.sql import functions as F

    from spreadsheet_etl_engine_spark.operators import dedup as DD

    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    texts = []
    for i in range(40):
        if i >= 20 and rng.random() < 0.4:
            base = texts[rng.randrange(len(texts))].split()
            j = rng.randrange(len(base))
            base[j] = rng.choice(vocab)  # near-dup: one token swapped
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(12)))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    seen = docs.filter(F.col("doc_id") < 20)
    batch = docs.filter(F.col("doc_id") >= 20)

    flagged = {
        r["doc_id"]
        for r in DD.incremental_dedup(batch, seen, "text", "doc_id").collect()
        if r["is_near_dup"]
    }
    pairs = DD.minhash_lsh_pairs(docs, "text", "doc_id").collect()
    linked = set()
    for r in pairs:
        a, b = r["id_a"], r["id_b"]
        if a < 20 <= b:
            linked.add(b)
        if b < 20 <= a:
            linked.add(a)
    assert flagged == linked


def test_resample_gapfill_fills_planted_gap(spark):
    import datetime as dt

    from spreadsheet_etl_engine_spark.operators.relational import resample_gapfill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 10.0),                                   # hour 00
        (1, t0 + dt.timedelta(hours=3), 7.0),            # hour 03 (gap 01,02)
        (1, t0 + dt.timedelta(hours=3, minutes=10), 4.0),
        (2, t0, 1.0),                                    # single-bucket key
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r["user_id"], r["bucket_start"].hour): (r["n_events"], r["v_filled"])
        for r in resample_gapfill(
            df, key_col="user_id", ts_col="ts", value_col="value"
        ).collect()
    }
    assert out[(1, 0)] == (1, 10.0)
    assert out[(1, 1)] == (0, 10.0)   # gap: count 0, value carried forward
    assert out[(1, 2)] == (0, 10.0)
    assert out[(1, 3)] == (2, 11.0)   # two events summed
    assert out[(2, 0)] == (1, 1.0)
    assert len(out) == 5              # grid spans exactly min..max per key


def test_resample_gapfill_poison_timestamp_fails_loud(spark):
    """The data-dependent grid guard (r8 family-5 find): one far-future
    row next to 2025 data demands a ~70M-element sequence array and
    OOMs an executor; the operator must fail LOUD naming the key, and a
    legitimately long span must pass when the cap is raised."""
    import datetime as dt

    from spreadsheet_etl_engine_spark.operators.relational import resample_gapfill

    rows = [
        (8, dt.datetime(2025, 1, 1), 1.0),
        (8, dt.datetime(9999, 12, 31, 23, 59, 59), 2.0),
        (9, dt.datetime(2025, 1, 1), 3.0),   # sane key unaffected
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    with pytest.raises(Exception, match="key 8 spans more than 1000000"):
        resample_gapfill(
            df, key_col="user_id", ts_col="ts", value_col="value"
        ).count()
    # The cap is a real parameter, not a constant: a low cap fires on a
    # modest span, and raising it admits the same span.
    two_day = df.filter(F.col("user_id") == 8).withColumn(
        "ts", F.least(F.col("ts"), F.lit("2025-01-03 00:00:00").cast("timestamp"))
    )
    with pytest.raises(Exception, match="key 8 spans more than 10 '1 hour'"):
        resample_gapfill(
            two_day, key_col="user_id", ts_col="ts", value_col="value",
            max_buckets_per_key=10,
        ).count()
    raised = resample_gapfill(
        two_day, key_col="user_id", ts_col="ts", value_col="value",
        max_buckets_per_key=100,
    )
    assert raised.count() == 49  # 48h span -> 49 hourly buckets
    # The cap is EXACT (r8 ADVICE fencepost): a 48h span emits 49 grid
    # rows, so cap=49 admits it at exactly the cap and cap=48 fires —
    # the grid can never exceed max_buckets_per_key rows per key.
    at_cap = resample_gapfill(
        two_day, key_col="user_id", ts_col="ts", value_col="value",
        max_buckets_per_key=49,
    )
    assert at_cap.count() == 49
    with pytest.raises(Exception, match="key 8 spans more than 48 '1 hour'"):
        resample_gapfill(
            two_day, key_col="user_id", ts_col="ts", value_col="value",
            max_buckets_per_key=48,
        ).count()
    ok = resample_gapfill(
        df.filter(F.col("user_id") == 9),
        key_col="user_id", ts_col="ts", value_col="value",
    )
    assert ok.count() == 1


def test_check_constraints_kinds_and_assert(spark):
    import pytest

    from spreadsheet_etl_engine_spark.errors import EngineError
    from spreadsheet_etl_engine_spark.operators import quality as Q

    df = spark.createDataFrame(
        [
            (1, 10, "A", "x1"),
            (2, 99, "A", "x2"),      # out of range
            (None, 20, "Z", "x3"),   # null key + bad flag
            (4, 30, "N", "x1"),      # dup code x1
            (4, None, "A", "x4"),    # dup k=4; null qty violates nothing but not_null
        ],
        "k int, qty int, flag string, code string",
    )
    rep = {
        r["constraint"]: (r["kind"], r["n_violations"], r["n_rows"])
        for r in Q.check_constraints(df, [
            Q.not_null("k_nn", "k"),
            Q.in_range("qty_rng", "qty", 1, 50),
            Q.accepted_values("flag_ok", "flag", ["A", "N"]),
            Q.matches("code_fmt", "code", r"^x\d$"),
            Q.unique("k_uniq", "k"),
            Q.unique("code_uniq", "code"),
        ]).collect()
    }
    assert rep["k_nn"] == ("not_null", 1, 5)
    assert rep["qty_rng"] == ("in_range", 1, 5)       # null qty ignored
    assert rep["flag_ok"] == ("accepted_values", 1, 5)
    assert rep["code_fmt"] == ("matches", 0, 5)
    # SQL UNIQUE semantics: the NULL-k row is excluded from the check
    # (n_rows drops to 4); not_null is the constraint that flags it.
    assert rep["k_uniq"] == ("unique", 1, 4)          # k=4 twice
    assert rep["code_uniq"] == ("unique", 1, 5)       # x1 twice

    with pytest.raises(EngineError, match="k_nn"):
        Q.assert_constraints(df, [Q.not_null("k_nn", "k")])
    # A clean table passes silently.
    Q.assert_constraints(df.filter("k IS NOT NULL"), [Q.not_null("k_nn", "k")])


def test_check_constraints_empty_input_and_name_validation(spark):
    import pytest

    from spreadsheet_etl_engine_spark.errors import EngineError
    from spreadsheet_etl_engine_spark.operators import quality as Q

    empty = spark.createDataFrame([], "k int, qty int")
    cs = [
        Q.not_null("k_nn", "k"),
        Q.in_range("qty_rng", "qty", 1, 50),
        Q.unique("k_uniq", "k"),
    ]
    rep = {r["constraint"]: (r["n_violations"], r["n_rows"])
           for r in Q.check_constraints(empty, cs).collect()}
    assert rep == {"k_nn": (0, 0), "qty_rng": (0, 0), "k_uniq": (0, 0)}
    # An empty batch passes the gate instead of crashing on NULL counts.
    Q.assert_constraints(empty, cs)

    # Two NULL composite-key components never conflict with each other.
    nulls = spark.createDataFrame(
        [(None, 1), (None, 2), (3, 1), (3, 1)], "a int, b int")
    rep2 = {r["constraint"]: (r["n_violations"], r["n_rows"])
            for r in Q.check_constraints(nulls, [Q.unique("pk", "a", "b")]).collect()}
    assert rep2 == {"pk": (1, 2)}

    with pytest.raises(EngineError, match="characters outside"):
        Q.check_constraints(empty, [Q.not_null("bad'name", "k")])
    with pytest.raises(EngineError, match="characters outside"):
        Q.check_constraints(empty, [Q.not_null("bad`tick", "k")])
    with pytest.raises(EngineError, match="at least one key column"):
        Q.unique("empty_key")


def test_funnel_steps_ordering_and_nulls(spark):
    import datetime as dt

    from spreadsheet_etl_engine_spark.operators.relational import funnel_steps

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1 completes the funnel in order
        (1, t(0), "view"), (1, t(5), "click"), (1, t(9), "buy"),
        # user 2: click BEFORE first view must not count; no click after
        (2, t(3), "click"), (2, t(4), "view"),
        # user 3: buy before click -> stops at click stage
        (3, t(0), "view"), (3, t(1), "buy"), (3, t(2), "click"),
        # user 4 never views -> absent entirely
        (4, t(0), "click"), (4, t(1), "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: (r["v"], r["c"], r["b"])
        for r in funnel_steps(
            df, key_col="user_id", ts_col="ts",
            steps=[
                ("v", F.col("event_type") == "view"),
                ("c", F.col("event_type") == "click"),
                ("b", F.col("event_type") == "buy"),
            ],
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1] == (t(0), t(5), t(9))
    assert out[2] == (t(4), None, None)      # pre-view click ignored
    assert out[3][1] == t(2) and out[3][2] is None  # buy pre-click ignored


def test_paragraph_dedup_removes_cross_doc_boilerplate(spark):
    """The canonical boilerplate case: a shared 10-word header chunk
    survives only in the lowest (doc_id, idx); a doc that is ALL
    boilerplate survives as an empty row; unique text is untouched."""
    from spreadsheet_etl_engine_spark.operators.dedup import paragraph_dedup

    header = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"   # exactly one chunk
    uniq_a = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    uniq_b = "b1 b2 b3"                          # partial trailing chunk
    docs = spark.createDataFrame(
        [
            (1, f"{header} {uniq_a}"),
            (2, f"{header} {uniq_b}"),
            (3, header),                         # pure boilerplate
            (4, uniq_b),                         # dup of doc 2's tail chunk
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           paragraph_dedup(docs, "text", "doc_id", chunk_words=10).collect()}
    assert len(got) == 4                          # every doc survives
    assert got[1]["clean_text"] == f"{header} {uniq_a}"   # first keeps all
    assert (got[1]["n_chunks"], got[1]["n_removed"]) == (2, 0)
    assert got[2]["clean_text"] == uniq_b                 # header removed
    assert (got[2]["n_chunks"], got[2]["n_removed"]) == (2, 1)
    assert got[3]["clean_text"] == ""                     # all boilerplate
    assert (got[3]["n_chunks"], got[3]["n_removed"]) == (1, 1)
    assert got[4]["clean_text"] == ""                     # doc 2 owns uniq_b
    assert (got[4]["n_chunks"], got[4]["n_removed"]) == (1, 1)

    # Reassembly preserves chunk ORDER for many chunks (idx sort, not
    # collect order): a 35-word doc round-trips identically when unique.
    words = " ".join(f"x{i}" for i in range(35))
    solo = spark.createDataFrame([(9, words)], "doc_id long, text string")
    out = paragraph_dedup(solo, chunk_words=10).collect()[0]
    assert out["clean_text"] == words and out["n_chunks"] == 4

    # Totality: NULL-text docs survive with zero chunks instead of
    # silently vanishing (posexplode_outer, count(chunk)).
    with_null = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string")
    got2 = {r["doc_id"]: r for r in paragraph_dedup(with_null).collect()}
    assert len(got2) == 2
    assert (got2[2]["clean_text"], got2[2]["n_chunks"],
            got2[2]["n_removed"]) == ("", 0, 0)
    assert got2[1]["clean_text"] == "a b c"


def test_paragraph_dedup_validate_ids_fails_loud_on_duplicates(spark):
    """The unique-id contract (r7 verdict item 4): duplicate ids would
    silently fan out the reassembly join; ``validate_ids=True`` raises
    an EngineError naming the offending id instead, and clean ids pass
    the check unchanged."""
    from spreadsheet_etl_engine_spark.errors import EngineError
    from spreadsheet_etl_engine_spark.operators.dedup import paragraph_dedup

    dup = spark.createDataFrame(
        [(1, "a b c"), (1, "d e f"), (2, "g h i")], "doc_id long, text string"
    )
    with pytest.raises(EngineError, match="unique.*doc_id.*2 times"):
        paragraph_dedup(dup, chunk_words=10, validate_ids=True)
    # Without validation the documented garbage-in stance applies: no
    # error, and both id-1 rows get the same kept-index array (pinning
    # the silent-corruption mode the flag guards against).
    assert paragraph_dedup(dup, chunk_words=10).count() == 3
    clean = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    out = paragraph_dedup(clean, chunk_words=10, validate_ids=True)
    assert out.count() == 2
    # The documented upstream route: a quality `unique` constraint on the
    # corpus PK catches the same garbage batched with the rest of the
    # report (the validate_ids docstring points users here).
    from spreadsheet_etl_engine_spark.operators.quality import (
        check_constraints, unique)

    report = {r["constraint"]: r["n_violations"]
              for r in check_constraints(dup, [unique("pk", "doc_id")]).collect()}
    assert report["pk"] > 0


def test_ngram_jaccard_boundary_pair_t08_n5(spark):
    """The losslessness proof's edge: J exactly 4/5 at threshold 0.8 with
    5 shingles.  Double ceil(0.8*5) = 5 would shorten the prefix by one
    and silently miss the pair (and the double length filter 0.8*5 > 4
    would reject it) — both bounds now evaluate in exact integer
    arithmetic, so the prefix plan must agree with the plain
    inverted-index oracle."""
    from spreadsheet_etl_engine_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7"),   # 5 word-3-shingles
            (2, "w1 w2 w3 w4 w5 w6"),      # its 4-shingle prefix subset
            (3, "a1 a2 a3 a4 a5"),          # unrelated
        ],
        "doc_id long, text string",
    )
    kw = dict(shingle_k=3, threshold=0.8)
    fast = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "text", "doc_id",
                                         prefix_filter=True, **kw).collect()}
    slow = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "text", "doc_id",
                                         prefix_filter=False, **kw).collect()}
    assert (1, 2) in fast and abs(fast[(1, 2)] - 0.8) < 1e-12
    assert fast == slow


def test_oracle_blind_edge_fixes(spark):
    """The parity-blind defect class from the r6 operator review: edges
    the synthetic testdata never exercises, where Spark and a
    mirror-image SQL oracle would both be wrong."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spreadsheet_etl_engine_spark.errors import EngineError
    from spreadsheet_etl_engine_spark.operators import multimodal as MM
    from spreadsheet_etl_engine_spark.operators.dedup import minhash_lsh_pairs
    from spreadsheet_etl_engine_spark.operators.quality import accepted_values
    from spreadsheet_etl_engine_spark.operators.relational import (
        asof_join, exact_moments, hash_sample, salted_join)

    # exact_moments: NULLs vanish from the power sums, so the divisor
    # must be count(value) — [10.0, NULL] has mean 10 and std 0.
    vals = spark.createDataFrame([("g", 10.0), ("g", None)], "k string, v double")
    m = exact_moments(vals, ["k"], "v", alias_prefix="v").collect()[0]
    assert (m["v_n"], m["v_mean"], m["v_std"]) == (1, 10.0, 0.0)

    # asof_join: a NULL right timestamp matches nothing (it used to
    # forward-fill into every left row before the first real right ts).
    left = spark.createDataFrame([(1, 5)], "k long, ts long")
    right = spark.createDataFrame([(1, None, 99), (1, 10, 1)],
                                  "k long, ts long, v long")
    got = asof_join(left, right, on="ts", by="k", right_cols={"v": "v"}).collect()
    assert got[0]["v"] is None

    # asof_join: a NULL LEFT timestamp matches nothing in EITHER
    # direction (NULL >= x and NULL <= x are both unknown; DuckDB's
    # native ASOF JOIN returns no match).  Forward used to hand it the
    # minimum-ts right row because bare desc() sorts NULLS LAST (r10
    # advice fix: desc_nulls_first).
    nleft = spark.createDataFrame([(1, None), (1, 7)], "k long, ts long")
    nright = spark.createDataFrame([(1, 10, 1), (1, 20, 2)],
                                   "k long, ts long, v long")
    for direction in ("backward", "forward"):
        rows = {r["ts"]: r["v"] for r in asof_join(
            nleft, nright, on="ts", by="k",
            right_cols={"v": "v"}, direction=direction).collect()}
        assert rows[None] is None, direction
        assert rows[7] == (1 if direction == "forward" else None), direction

    # hash_sample: percent=100 returns EVERY row, NULL keys included.
    keyed = spark.createDataFrame([(1,), (None,)], "k long")
    assert hash_sample(keyed, F.col("k"), percent=100).count() == 2

    # salted_join: non-left-preserving modes fail loud.
    with _pytest.raises(ValueError, match="left-preserving"):
        salted_join(keyed, keyed, key="k", how="full")

    # LSH banding: num_hashes=0 passes the modulus check but would give
    # every doc an identical empty band hash (all-pairs blowup).
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="at least one hash per band"):
        minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=0, bands=4)

    # accepted_values: a None element would silently disable the check.
    with _pytest.raises(EngineError, match="None is not a legal"):
        accepted_values("c", "col", ["a", None])

    # multimodal totality: NULL data cells and zero-frame videos flow
    # through decode/features/resize/frame_sample without failing.
    media = spark.createDataFrame(
        [(1, "image", None, 0), (2, "video", b"VID:0x64x48:p", 0)],
        MM.MEDIA_SCHEMA)
    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert (dec[1]["width"], dec[1]["n_bytes"]) == (0, 0)
    assert dec[2]["n_frames"] == 0
    assert len(MM.extract_features(media).collect()) == 2
    assert len(MM.resize_images(media, width=4, height=4).collect()) == 2
    assert MM.frame_sample(media, every_k=2).count() == 0  # no crash

    # zero-norm cosine: 0.0 by contract, never NULL.
    from spreadsheet_etl_engine_spark.functions import vectors as VEC
    z = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>")
    row = z.select(VEC.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]
    assert row["c"] == 0.0


def test_decimal_sum_domain_fails_loud(spark):
    """The deterministic-sum domain contract (r8 family-5 find): every
    unordered double sum routes through DECIMAL(18,2) for engine-portable
    associativity, which bounds summed magnitudes to |x| < 1e16.  A
    poison row beyond that must fail LOUD under ANSI (never silently
    skew the sum), and the sanctioned upstream guard — an in_range
    quality constraint on the measure — must catch it in report mode."""
    import pytest as _pytest

    from spreadsheet_etl_engine_spark.operators.quality import (
        check_constraints, in_range)

    df = spark.createDataFrame(
        [(1, 2.5), (2, 1e300)], "k long, value double"
    )
    with _pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        df.agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
        ).collect()
    # In-domain magnitudes (the sweep's 1e12 edge row) sum exactly.
    ok = spark.createDataFrame([(1, 1e12), (2, 2.5)], "k long, value double")
    got = ok.agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s")
    ).collect()[0]["s"]
    assert got == 1e12 + 2.5
    report = {r["constraint"]: r["n_violations"]
              for r in check_constraints(
                  df, [in_range("value_domain", "value", -1e15, 1e15)]
              ).collect()}
    assert report["value_domain"] == 1


def test_nonfinite_measure_fails_loud(spark):
    """The domain contract's OTHER boundary (r9 edge-family-9 find):
    Spark's ANSI decimal cast throws on finite overflow but silently
    returns NULL for NaN/±Infinity, so an unguarded poison row would
    vanish from every deterministic sum.  finite_or_fail raises
    USER_RAISED_EXCEPTION naming the measure on every decimal-sum path;
    NULLs still flow through (NULL-in/NULL-out), and the in_range
    quality constraint remains the sanctioned upstream filter (NaN
    fails its <= hi arm, ±inf fail one bound each)."""
    import pytest as _pytest

    from spreadsheet_etl_engine_spark.functions.numeric import finite_or_fail
    from spreadsheet_etl_engine_spark.operators.quality import (
        check_constraints, in_range)
    from spreadsheet_etl_engine_spark.operators.relational import exact_moments

    for poison in (float("nan"), float("inf"), float("-inf")):
        df = spark.createDataFrame(
            [(1, 2.5), (2, poison)], "k long, value double"
        )
        with _pytest.raises(Exception, match="NON_FINITE_MEASURE"):
            df.agg(
                F.sum(finite_or_fail(F.col("value"), "value")
                      .cast("decimal(18,2)")).cast("double")
            ).collect()
        with _pytest.raises(Exception, match="NON_FINITE_MEASURE"):
            exact_moments(df, ["k"], "value", alias_prefix="v").collect()
    # NULLs pass through the guard untouched; finite values sum exactly.
    ok = spark.createDataFrame(
        [(1, 1e12), (1, None), (2, 2.5)], "k long, value double"
    )
    got = ok.agg(
        F.sum(finite_or_fail(F.col("value"), "value")
              .cast("decimal(18,2)")).cast("double").alias("s")
    ).collect()[0]["s"]
    assert got == 1e12 + 2.5
    # The sanctioned upstream constraint counts every non-finite row.
    bad = spark.createDataFrame(
        [(1, float("nan")), (2, float("inf")), (3, float("-inf")), (4, 1.0)],
        "k long, value double",
    )
    report = {r["constraint"]: r["n_violations"]
              for r in check_constraints(
                  bad, [in_range("value_domain", "value", -1e15, 1e15)]
              ).collect()}
    assert report["value_domain"] == 3


def test_nonfinite_report_counts(spark):
    """nonfinite_report — the diagnostic companion to the fail-loud
    NON_FINITE_MEASURE contract: exact per-column counts on planted
    poison, array rows counted once per category (a vector holding BOTH
    a NaN and an inf counts in n_nan AND n_inf — documented overlap),
    NaN never double-counted as infinite, and an EMPTY feed reports
    zeros (sum-over-zero-rows coalesce, the r8 empty-slice class)."""
    from spreadsheet_etl_engine_spark.operators.quality import nonfinite_report

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1.0,   [0.1, 0.2]),
            (nan,   [nan, 0.2]),
            (inf,   [0.1, inf]),
            (-inf,  [nan, -inf]),          # overlap row: nan AND inf
            (None,  None),
            (2.5,   [0.3, None]),          # NULL element is not non-finite
        ],
        "v double, e array<double>",
    )
    rows = {r["col_name"]: r for r in
            nonfinite_report(df, ("v",), ("e",)).collect()}
    v, e = rows["v"], rows["e"]
    assert (v["n_rows"], v["n_null"], v["n_nan"], v["n_inf"], v["n_finite"]) \
        == (6, 1, 1, 2, 2)
    assert (e["n_rows"], e["n_null"], e["n_nan"], e["n_inf"], e["n_finite"]) \
        == (6, 1, 2, 2, 2)
    empty = df.filter(F.lit(False))
    for r in nonfinite_report(empty, ("v",), ("e",)).collect():
        assert (r["n_rows"], r["n_null"], r["n_nan"], r["n_inf"],
                r["n_finite"]) == (0, 0, 0, 0, 0)


def test_asof_join_tied_right_rows_deterministic(spark):
    """Two right rows tied on (by, on): the struct-max tied row wins, the
    output carries that ONE row's values (never a per-column stitch of
    two rows), and repeated runs agree (r9 re-execution review: the
    untied window order committed whichever tied row happened to sort
    last under shuffle-fetch arrival order)."""
    from spreadsheet_etl_engine_spark.operators.relational import asof_join

    left = spark.createDataFrame([("X", 10, "L1")], "k string, t int, who string")
    # Tie at t=10: (price=11, size=NULL) is struct-max on the first field,
    # so its NULL size must come through — a per-column ignorenulls would
    # stitch price=11 with size=5 from the OTHER tied row.
    right = spark.createDataFrame(
        [("X", 10, 10.0, 5), ("X", 10, 11.0, None)],
        "k string, t int, price double, size int",
    )
    for _ in range(3):
        rows = asof_join(
            left.repartition(7), right.repartition(5), on="t", by="k",
            right_cols={"price": "price", "size": "size"},
        ).collect()
        assert len(rows) == 1
        assert rows[0]["price"] == 11.0 and rows[0]["size"] is None


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir selects the fault-tolerant parquet round-trip
    truncation (survives executor loss at scale) — results must equal
    the localCheckpoint default on the same graph, the session-global
    checkpoint dir must be untouched (r9 advice: setCheckpointDir is a
    global mutation), and superseded rounds must be deleted (only the
    sym pin + the final labels round may remain on disk)."""
    from spreadsheet_etl_engine_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    before_ckpt_dir = spark.sparkContext.getCheckpointDir()
    local = {(r["node"], r["component"])
             for r in connected_components(edges).collect()}
    ckpt = tmp_path / "ckpt"
    reliable_df = connected_components(edges, checkpoint_dir=str(ckpt))
    reliable = {(r["node"], r["component"]) for r in reliable_df.collect()}
    assert local == reliable
    assert {c for _, c in local} == {1, 10, 20}
    assert spark.sparkContext.getCheckpointDir() == before_ckpt_dir
    rounds = sorted(p.name for p in ckpt.iterdir())
    # round-00000 is the sym pin (kept: referenced all run), round-00001
    # is the initial labels (superseded, deleted), the rest of the label
    # rounds are deleted as they are superseded — exactly the final
    # labels round survives alongside sym.
    assert len(rounds) == 2 and rounds[0] == "round-00000", rounds
    # the returned DataFrame stays readable from the surviving files
    assert reliable_df.count() == len(local)
    # fail-loud on directory reuse: round files from a previous run must
    # never silently mix into a new one
    with pytest.raises(Exception, match="round-00000|already exists"):
        connected_components(edges, checkpoint_dir=str(ckpt)).collect()


def test_checkpoint_dir_conf_reachable_from_registry(spark, sf_dir, tmp_path):
    """r9 verdict item 5: the reliable-checkpoint mode must be reachable
    from the PUBLIC query surface, not only the operator parameter.
    Setting the session conf key must (a) route dedup_components through
    the parquet round-trip truncation (files appear under the dir) and
    (b) leave the result identical to the default local mode."""
    from spreadsheet_etl_engine_spark.operators.dedup import CHECKPOINT_DIR_CONF
    from spreadsheet_etl_engine_spark.registry import REGISTRY

    fn = REGISTRY["dedup_components"].fn
    base = {(r["node"], r["component"]) for r in fn(spark, sf_dir).collect()}
    root = tmp_path / "cc_root"
    root.mkdir()
    spark.conf.set(CHECKPOINT_DIR_CONF, str(root))
    try:
        reliable = {(r["node"], r["component"])
                    for r in fn(spark, sf_dir).collect()}
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == base
    runs = list(root.iterdir())
    assert len(runs) == 1 and runs[0].name.startswith("cc-")
    # superseded rounds were deleted — INCLUDING the corpus-sized
    # signature-tags pin (r10 ADVICE finding 2: it used to be retained,
    # as the directory's largest file, for the whole run; it is now
    # deleted the moment connected_components durably pins the
    # symmetrized edge list, its last reader).  Surviving files: sym
    # (round-00000) and the final labels round — nothing else.
    names = sorted(p.name for p in runs[0].iterdir())
    assert "signature-tags" not in names and len(names) == 2, names
    assert names[0] == "round-00000", names


def test_text_unicode_hygiene_counts(spark, tmp_path):
    """Pin exact per-class counts on literal probe strings through the
    registered query (r10 growth query): bidi controls, zero-width chars
    and invisible spaces are counted codepoint-wise, NBSP stays out of
    is_clean, NULL text yields NULL counts."""
    import duckdb as _dd

    from spreadsheet_etl_engine_spark.registry import REGISTRY

    rows = [
        # (id, text): RLM + RLO + PDF -> 3 bidi; clean of zero-width
        (1, "a‏b‮c‬d"),
        # ZWJ-family emoji: 3 ZWJ + a BOM + a ZWSP -> 5 zero-width
        (2, "x‍‍‍﻿​y"),
        # NBSP + NNBSP -> 2 invisible spaces, still is_clean
        (3, "p q r"),
        (4, "plain ascii"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out_dir = str(tmp_path / "docs")
    df.write.parquet(out_dir)
    # The query loads <sf_dir>/documents.parquet: stage the fixture.
    sf = tmp_path / "sf"
    sf.mkdir()
    df.write.parquet(str(sf / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_bidi"], r["n_zero_width"],
                      r["n_invisible_space"], r["is_clean"])
        for r in REGISTRY["text_unicode_hygiene"].fn(spark, str(sf)).collect()
    }
    assert got[1] == (3, 0, 0, False)
    assert got[2] == (0, 5, 0, False)
    assert got[3] == (0, 0, 2, True)
    assert got[4] == (0, 0, 0, True)
    assert got[5] == (None, None, None, None)
    # Oracle agreement on the same staged table (the local mini-parity —
    # the driver/sweep runs the full comparator).
    con = _dd.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    exp = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            REGISTRY["text_unicode_hygiene"].oracle + " ORDER BY doc_id"
        ).fetchall()
    }
    con.close()
    assert exp == got


def test_semantic_dedup_keeps_least_prototypical(spark):
    # Two well-separated centroids; in cluster 0 a near-identical pair
    # (10, 11) and one distinct vector (12); in cluster 1 a
    # near-identical pair (13, 14).  tau=0.99: only the near-identical
    # pairs collide.  Ordering is cos_to_centroid ASC -> the member
    # FARTHER from the centroid survives (the SemDeDup keep rule).
    rows = [
        (10, [1.0, 0.1, 0.0, 0.0]),
        (11, [1.0, 0.100001, 0.0, 0.0]),   # near-dup of 10, farther from c0
        (12, [0.9, 0.5, 0.0, 0.0]),        # same cluster, cos~0.92 < tau
        (13, [0.0, 1.0, 0.2, 0.0]),
        (14, [0.0, 1.0, 0.2001, 0.0]),     # near-dup of 13, farther from c1
    ]
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = DD.semantic_dedup(
        df, "emb", "vid", centroids=cents, threshold=0.99
    ).collect()
    got = {r["vid"]: (r["cluster_id"], r["kept"]) for r in out}
    assert got[10] == (0, False) and got[11] == (0, True)
    assert got[12] == (0, True)
    assert got[13] == (1, False) and got[14] == (1, True)


def test_semantic_dedup_prunes_against_removed_members_too(spark):
    # x at 0deg, y at 9deg, z at 18deg in one plane; tau between cos(9)
    # and cos(18): cos(x,y) and cos(y,z) >= tau but cos(x,z) < tau.
    # Centroid at 85deg makes the ASC order x, y, z.  The documented
    # (and SemDeDup-published) semantics drop z because its earlier
    # neighbor y is within tau EVEN THOUGH y itself was dropped — a
    # greedy keep-set scan would have kept z; this pins the difference.
    import math

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0]

    df = spark.createDataFrame(
        [(1, at(0)), (2, at(9)), (3, at(18))], "vid long, emb array<double>"
    )
    cents = [at(85), [0.0, 0.0, 1.0]]
    out = DD.semantic_dedup(
        df, "emb", "vid", centroids=cents, threshold=math.cos(math.radians(10))
    ).collect()
    got = {r["vid"]: (r["cluster_id"], r["kept"]) for r in out}
    assert got == {1: (0, True), 2: (0, False), 3: (0, False)}


def test_semantic_dedup_kernel_and_exact_assign_agree(spark, sf_dir):
    # The Arrow-matmul assignment (scale path, BLAS summation order)
    # and the broadcast sequential-fold argmax (oracle-twin path) must
    # place every fixture vector in the same cluster with the same
    # fold-computed cos_centroid and kept flag.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [
        [float(v) for v in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    kw = dict(centroids=cents, threshold=0.40)
    kern = DD.semantic_dedup(emb, "embedding", "vec_id", **kw).collect()
    exact = DD.semantic_dedup(
        emb, "embedding", "vec_id", assign="exact", **kw
    ).collect()
    key = lambda r: r["vec_id"]
    assert sorted(
        [(r["vec_id"], r["cluster_id"], r["cos_centroid"], r["kept"])
         for r in kern]
    ) == sorted(
        [(r["vec_id"], r["cluster_id"], r["cos_centroid"], r["kept"])
         for r in exact]
    )


def test_semantic_dedup_salted_prune_is_result_identical(spark, sf_dir):
    # r15 optimization round: with ``parallelism`` set, the quadratic
    # within-cluster prune join is salted (x exploded K ways, y salted
    # by pmod(xxhash64(id), K)) and explicitly repartitioned so the
    # hot cluster keys split across tasks (guide §2.5).  Every
    # unordered pair still meets exactly once, so the full output —
    # cluster, fold cosine, kept flag — must equal the unsalted path's.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [
        [float(v) for v in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    kw = dict(centroids=cents, threshold=0.40)
    plain = DD.semantic_dedup(emb, "embedding", "vec_id", **kw).collect()
    salted = DD.semantic_dedup(
        emb, "embedding", "vec_id", parallelism=8, **kw
    ).collect()
    norm = lambda rows: sorted(
        (r["vec_id"], r["cluster_id"], r["cos_centroid"], r["kept"])
        for r in rows
    )
    assert norm(plain) == norm(salted)


def test_semantic_dedup_arg_validation(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0])], "vid long, emb array<double>")
    with pytest.raises(ValueError, match="kernel.*exact|exact.*kernel"):
        DD.semantic_dedup(df, "emb", "vid", centroids=[[1.0, 0.0]],
                          threshold=0.9, assign="bogus")
    with pytest.raises(ValueError, match="at least one centroid"):
        DD.semantic_dedup(df, "emb", "vid", centroids=[], threshold=0.9)


def test_pq_trainer_batched_seeding_contracts():
    """r16: the batched k-means++ seeding + float32 batched Lloyd — the
    trainer internals changed, so pin the properties the ANN operators
    rely on: every seed is an actual sample subvector, training is
    deterministic for a fixed seed, codebook shape/padding contracts
    hold, and quantization quality is in k-means territory (beats a
    random-codebook baseline by a wide margin)."""
    import numpy as np

    rng0 = np.random.default_rng(123)
    X = rng0.normal(size=(512, 32))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    m, ksub, dsub = 4, 16, 8

    T = np.ascontiguousarray(X.reshape(512, m, dsub).transpose(1, 0, 2))
    seeds = SIM._kmeanspp_seed_batched(T, ksub, np.random.default_rng(42))
    assert seeds.shape == (m, ksub, dsub)
    # Every seed row is one of the subspace's sample rows (k-means++
    # draws centroids FROM the data, never interpolates).
    for j in range(m):
        sample_rows = {tuple(r) for r in T[j]}
        assert all(tuple(c) in sample_rows for c in seeds[j])
    again = SIM._kmeanspp_seed_batched(T, ksub, np.random.default_rng(42))
    assert np.array_equal(seeds, again)

    books = SIM._pq_kmeans_codebooks(X, m, ksub, np.random.default_rng(1), 8)
    B = np.asarray(books)
    assert B.shape == (m, ksub, dsub)
    assert np.array_equal(
        B, np.asarray(SIM._pq_kmeans_codebooks(
            X, m, ksub, np.random.default_rng(1), 8)))

    def quant_err(codebooks):
        errs = []
        for j, Cb in enumerate(codebooks):
            S = X[:, j * dsub:(j + 1) * dsub]
            Cb = np.asarray(Cb)
            d2 = ((S ** 2).sum(-1)[:, None] - 2 * (S @ Cb.T)
                  + (Cb ** 2).sum(-1)[None, :])
            errs.append(d2.min(1).mean())
        return float(np.mean(errs))

    random_books = [X[:ksub, j * dsub:(j + 1) * dsub].copy()
                    for j in range(m)]
    # Measured 0.134 vs 0.190 (0.70×) at this small config; the floor
    # keeps some margin while still requiring genuine Lloyd refinement.
    assert quant_err(books) < 0.8 * quant_err(random_books)

    # Tiny-corpus padding: code domain stays [0, ksub) with n < ksub.
    pad = np.asarray(SIM._pq_kmeans_codebooks(
        X[:3], m, ksub, np.random.default_rng(2), 4))
    assert pad.shape == (m, ksub, dsub)
