"""The benchmark's workloads: the operations each one runs, in a fixed
rotation, and the checks of their outputs.

An operation is one call a user of the engine makes and waits for.  Each
workload repeats a fixed cycle of operations so that every run measures
the same mix; ``checks`` runs after the timed phase and compares the last
output of every operation kind with an independent computation (DuckDB
SQL over the generated files, or the generator's planted ground truth).
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np

import inputs

# Quality floors the dedup_corpus checks enforce (measured values on
# seed 1 are recorded in README.md).
DUP_PAIR_RECALL_FLOOR = 0.95
DUP_PAIR_PRECISION_FLOOR = 0.95
ANN_RECALL_FLOOR = 0.8
STREAM_PAIR_RECALL_FLOOR = 0.9
ANN_K = 5


@dataclass
class Op:
    kind: str
    run: Callable[[], None]
    rows: int                      # input records the operation consumes


def _pairs_from_labels(labels: np.ndarray) -> int:
    _, counts = np.unique(labels, return_counts=True)
    return int((counts * (counts - 1) // 2).sum())


def _same_pair_count(a: np.ndarray, b: np.ndarray) -> int:
    """Pairs of items that share a label in both labelings."""
    joint = a.astype(np.int64) * (int(b.max()) + 1) + b
    return _pairs_from_labels(joint)


# --- etl_job ---------------------------------------------------------------

# Typed mode over parquet: a filter keeping about 1% of rows.
NARROW_MAP = [
    ["Rule", "Instruction"],
    ["_filter:top", "eval: src[score] >= 990"],
    ["Id", "src[id]"],
    ["Region", "src[region]"],
    ["Code", "src[code]"],
    ["Total", "formula:=ROUND(src[qty]*src[price], 2)"],
]
NARROW_SQL = """
    SELECT id AS Id, region AS Region, code AS Code,
           round(round(qty * price, 2), 6) AS Total
    FROM read_parquet('{src}') WHERE score >= 990"""

# Typed mode over parquet: about 60% of rows, formulas chained by self[].
WIDE_MAP = [
    ["Rule", "Instruction"],
    ["_filter:bulk", "eval: src[qty] > 40"],
    ["Id", "src[id]"],
    ["Product", "src[product]"],
    ["Total", "formula:=ROUND(src[qty]*src[price], 2)"],
    ["Triple", "formula:=ROUND(self[Total]*3, 2)"],
    ["Size", 'formula:=IF(self[Triple] > 1000, "big", "small")'],
    ["Note", "src[note]"],
]
WIDE_SQL = """
    SELECT id AS Id, product AS Product,
           round(round(qty * price, 2), 6) AS Total,
           round(round(round(qty * price, 2) * 3, 2), 6) AS Triple,
           CASE WHEN round(round(qty * price, 2) * 3, 2) > 1000
                THEN 'big' ELSE 'small' END AS Size,
           note AS Note
    FROM read_parquet('{src}') WHERE qty > 40"""

# Fidelity mode over CSV: display strings, string equality and
# parseFloat comparisons.
FIDELITY_MAP = [
    ["Rule", "Instruction"],
    ["_filter:pick", 'eval: src[region] == "North" || src[qty] >= 95'],
    ["Id", "src[id]"],
    ["Region", "src[region]"],
    ["Product", "src[product]"],
    ["Price", "src[price]"],
    ["Note", "src[note]"],
    ["Tag", "formula:=UPPER(src[product])"],
    ["Batch", "constant:fidelity"],
]
_CSV = "read_csv('{src}', header=true, all_varchar=true, quote='\"', escape='\"')"
FIDELITY_SQL = f"""
    SELECT coalesce(id, '') AS Id, coalesce(region, '') AS Region,
           coalesce(product, '') AS Product, coalesce(price, '') AS Price,
           coalesce(note, '') AS Note, upper(coalesce(product, '')) AS Tag,
           'fidelity' AS Batch
    FROM {_CSV}
    WHERE coalesce(region, '') = 'North' OR try_cast(qty AS DOUBLE) >= 95"""
WORKBOOK_SQL = f"""
    SELECT coalesce(id, '') AS Id, coalesce(region, '') AS Region,
           coalesce(code, '') AS Code, coalesce(price, '') AS Price,
           upper(coalesce(product, '')) AS Tag
    FROM {_CSV}
    WHERE try_cast(qty AS DOUBLE) >= 50 OR coalesce(region, '') = 'East'"""


def _mismatch(con, expected_sql: str, actual_sql: str) -> int:
    """Rows in either result that the other lacks (multiset difference)."""
    return int(con.execute(f"""
        SELECT (SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql})))
             + (SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql})))
    """).fetchone()[0])


class EtlJob:
    """The paper's job: read a Source table, apply a Map sheet's filter and
    column rules, write the Output, with report-mode constraints."""

    name = "etl_job"
    # Two whole cycles: after one, the typed jobs of the next cycle still
    # ran 10-20% slower than later ones while the JVM warmed up.
    WARM_UP_OPS = 14

    def __init__(self, spark, data_dir: str, manifest: dict, work: str):
        from spreadsheet_etl_engine_spark.operators import quality as Q

        self.spark, self.data, self.manifest, self.work = spark, data_dir, manifest, work
        self.src_parquet = os.path.join(data_dir, "source.parquet")
        self.src_csv = os.path.join(data_dir, "source.csv")
        self.constraints = [
            Q.not_null("id_present", "Id"),
            Q.in_range("total_range", "Total", 0, 10_000_000),
            Q.unique("id_unique", "Id"),
        ]
        self.violations: dict[str, dict] = {}
        self.workbook_turn = 0
        self.last_workbook: tuple[int, str] | None = None
        self.workbook_runs: list[tuple[float, int]] = []   # (start time, cells read)

    def _out(self, kind: str) -> str:
        return os.path.join(self.work, f"out_{kind}.parquet")

    def _job(self, kind: str, source: str, map_table, mode: str, constraints) -> None:
        from spreadsheet_etl_engine_spark import jobs

        result = jobs.run_job(
            self.spark,
            config={"source": source, "map": "Map", "output": self._out(kind)},
            map_table=map_table, mode=mode,
            constraints=constraints, on_violation="report",
        )
        self.violations[kind] = result.violations

    def _workbook(self) -> None:
        from spreadsheet_etl_engine_spark import jobs

        j = self.workbook_turn % len(self.manifest["workbooks"])
        self.workbook_turn += 1
        out = os.path.join(self.work, f"out_workbook{j}.xlsx")
        self.workbook_runs.append((time.time(), self.manifest["workbooks"][j]["cells"]))
        jobs.run_workbook(self.spark, os.path.join(self.data, f"workbook{j}.xlsx"), out)
        self.last_workbook = (j, out)

    def cycle(self) -> list[Op]:
        """The typed ~60% job is the common case and four of the seven
        operations, so the median operation falls among them rather than on
        the boundary between two kinds."""
        n = self.manifest["rows"]
        wb_rows = self.manifest["workbooks"][self.workbook_turn % len(self.manifest["workbooks"])]["rows"]
        typed = self.constraints

        def wide():
            return Op("typed_wide", lambda: self._job("typed_wide", self.src_parquet,
                                                      WIDE_MAP, "typed", typed), n)

        return [
            Op("typed_narrow", lambda: self._job("typed_narrow", self.src_parquet,
                                                 NARROW_MAP, "typed", typed), n),
            wide(), wide(),
            Op("fidelity_csv", lambda: self._job("fidelity_csv", self.src_csv,
                                                 FIDELITY_MAP, "fidelity", typed[:1]), n),
            wide(), wide(),
            Op("workbook", self._workbook, wb_rows),
        ]

    def start(self) -> None:
        pass

    def stop(self) -> None:
        pass

    def broken_op(self) -> Op:
        """A Map rule naming a column the source lacks: must raise
        ``MissingColumnError`` and count as a failed operation."""
        bad = [["Rule", "Instruction"], ["Id", "src[no_such_column]"]]
        return Op("broken", lambda: self._job("broken", self.src_parquet, bad,
                                              "typed", None), 0)

    def checks(self) -> dict:
        con = duckdb.connect()
        src, csv_src = self.src_parquet, self.src_csv
        mism = 0
        for kind, sql, cols in (
                ("typed_narrow", NARROW_SQL, "Id, Region, Code, round(Total, 6) AS Total"),
                ("typed_wide", WIDE_SQL, "Id, Product, round(Total, 6) AS Total, "
                                         "round(Triple, 6) AS Triple, Size, Note")):
            mism += _mismatch(con, sql.format(src=src),
                              f"SELECT {cols} FROM read_parquet('{self._out(kind)}/*.parquet')")
        mism += _mismatch(con, FIDELITY_SQL.format(src=csv_src),
                          f"SELECT * FROM read_parquet('{self._out('fidelity_csv')}/*.parquet')")
        # Report-mode constraint counters must agree with the output.
        bad_counters = sum(v for vs in self.violations.values() if vs for v in vs.values())
        if self.last_workbook is not None:
            j, out = self.last_workbook
            grid = inputs.read_xlsx_sheet(out, "Output")
            header, rows = grid[0], grid[1:]
            import pandas as pd

            con.register("wb_out", pd.DataFrame(rows, columns=header, dtype=str))
            mism += _mismatch(
                con, WORKBOOK_SQL.format(src=os.path.join(self.data, f"workbook{j}.source.csv")),
                "SELECT * FROM wb_out")
        con.close()
        return {"output_mismatch_rows": mism, "constraint_violations": bad_counters,
                "ok": mism == 0 and bad_counters == 0}


# --- dedup_corpus ----------------------------------------------------------

class DedupCorpus:
    """LLM-data curation over a document corpus with planted clusters:
    MinHash/LSH clusters, exact n-gram Jaccard pairs, a PQ nearest-neighbour
    pass with codebook training, and fresh documents arriving as parquet
    files into a stateful streaming dedup query (closed loop: the next file
    is dropped once the previous one's micro-batch has committed)."""

    name = "dedup_corpus"
    STREAM_OPS_PER_CYCLE = 8
    # Every kind once, and the first stream batches after the cold one.
    WARM_UP_OPS = 7

    def __init__(self, spark, data_dir: str, manifest: dict, work: str):
        self.spark, self.data, self.manifest, self.work = spark, data_dir, manifest, work
        self.staged = sorted(glob.glob(os.path.join(data_dir, "stream", "*.parquet")))
        self.watch = os.path.join(work, "stream_in")
        os.makedirs(self.watch, exist_ok=True)
        self.next_file = 0
        self.stream_events: list[tuple[float, float]] = []   # (created, latency)
        self.query = None

    def _out(self, kind: str) -> str:
        return os.path.join(self.work, f"out_{kind}.parquet")

    def _load(self, name: str):
        from spreadsheet_etl_engine_spark.sources import readers

        return readers.load_table(self.spark, self.data, name)

    def _clusters(self) -> None:
        from spreadsheet_etl_engine_spark.operators import dedup
        from spreadsheet_etl_engine_spark.sources import writers

        cl = dedup.duplicate_clusters(self._load("corpus"), "text", "doc_id",
                                      num_hashes=8, bands=4)
        writers.write_parquet(cl, self._out("clusters"))

    def _ngram(self) -> None:
        from spreadsheet_etl_engine_spark.operators import dedup
        from spreadsheet_etl_engine_spark.sources import writers

        pairs = dedup.ngram_jaccard_pairs(self._load("corpus"), "text", "doc_id", threshold=0.8)
        writers.write_parquet(pairs, self._out("ngram"))

    def _ann(self) -> None:
        from pyspark.sql import functions as F

        from spreadsheet_etl_engine_spark.operators import similarity
        from spreadsheet_etl_engine_spark.sources import writers

        vectors = self._load("vectors")
        queries = vectors.filter(F.col("vec_id") < self.manifest["queries"])
        top = similarity.topk_pq(vectors, queries, "embedding", "vec_id", k=ANN_K, m=8, ksub=256)
        writers.write_parquet(top, self._out("ann"))

    # Streaming ------------------------------------------------------------

    def start(self) -> None:
        from spreadsheet_etl_engine_spark.streaming import dedup as SD

        per = self.manifest["stream_docs_per_file"]
        session = self.spark.newSession()
        session.conf.set("spark.sql.shuffle.partitions",
                         str(SD.stream_state_partitions(session, per)))
        docs = SD.read_document_stream(session, self.watch, max_files_per_trigger=1)
        pairs = SD.band_candidates_stream(docs, "text", "doc_id", num_hashes=8, bands=4)
        self.query = (pairs.writeStream.format("parquet")
                      .option("path", self._out("stream_pairs"))
                      .option("checkpointLocation", os.path.join(self.work, "stream_ckpt"))
                      .outputMode("append").start())

    def _drop_file(self) -> None:
        """Move the next staged file into the watched directory and wait for
        the micro-batch that consumed it to commit."""
        q = self.query
        last = q.lastProgress
        # Idle triggers also report progress, so a new data batch is told
        # apart by its timestamp, not its batch id.
        last_ts = last["timestamp"] if last else None
        if self.next_file >= len(self.staged):
            raise RuntimeError("stream backlog exhausted; raise stream_files")
        src = self.staged[self.next_file]
        self.next_file += 1
        created = time.time()
        shutil.copyfile(src, os.path.join(self.watch, "." + os.path.basename(src)))
        os.rename(os.path.join(self.watch, "." + os.path.basename(src)),
                  os.path.join(self.watch, os.path.basename(src)))
        deadline = time.monotonic() + 120
        while True:
            p = q.lastProgress
            if p and p["timestamp"] != last_ts and p["numInputRows"] > 0:
                break
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError("micro-batch did not commit within 120 s")
            time.sleep(0.005)
        committed = _progress_end(p)
        self.stream_events.append((created, max(0.0, committed - created)))

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def cycle(self) -> list[Op]:
        n = self.manifest["docs"]
        per = self.manifest["stream_docs_per_file"]
        return [
            Op("clusters", self._clusters, n),
            *[Op("stream_batch", self._drop_file, per) for _ in range(self.STREAM_OPS_PER_CYCLE // 2)],
            Op("ngram_pairs", self._ngram, n),
            Op("ann_pq", self._ann, self.manifest["vectors"]),
            *[Op("stream_batch", self._drop_file, per) for _ in range(self.STREAM_OPS_PER_CYCLE // 2)],
        ]

    def checks(self) -> dict:
        import pyarrow.parquet as pq

        res: dict = {}
        truth = np.load(os.path.join(self.data, "corpus_clusters.npy"))
        ids = np.arange(1, len(truth) + 1)
        cl = pq.read_table(self._out("clusters")).to_pandas()
        # Documents the operator did not place in a cluster are singletons.
        label = ids.copy() + 10 * len(ids)
        label[cl["node"].to_numpy() - 1] = cl["component"].to_numpy()
        true_pairs = _pairs_from_labels(truth)
        found_pairs = _pairs_from_labels(label)
        both = _same_pair_count(truth, label)
        res["dup_pair_recall"] = both / true_pairs if true_pairs else 1.0
        res["dup_pair_precision"] = both / found_pairs if found_pairs else 1.0

        ng = pq.read_table(self._out("ngram")).to_pandas()
        a, b = ng.iloc[:, 0].to_numpy(), ng.iloc[:, 1].to_numpy()
        res["candidate_pairs"] = len(ng)
        res["useful_pair_ratio"] = (float((truth[a - 1] == truth[b - 1]).mean())
                                    if len(ng) else 1.0)

        ann = pq.read_table(self._out("ann")).to_pandas()
        exact = _exact_topk(os.path.join(self.data, "vectors.parquet"),
                            self.manifest["queries"], ANN_K)
        got = set(zip(ann["query_id"].tolist(), ann["neighbor_id"].tolist()))
        res["ann_recall_at_k"] = len(got & exact) / max(1, len(exact))

        # Every planted same-cluster pair among the streamed documents must
        # come out as a candidate (MinHash banding at Jaccard >= 0.85).
        s_truth = np.load(os.path.join(self.data, "stream_clusters.npy"))
        lab = s_truth[:len(self.stream_events) * self.manifest["stream_docs_per_file"]]
        want = {pair for c in np.unique(lab)
                for pair in itertools.combinations(np.flatnonzero(lab == c).tolist(), 2)}
        files = glob.glob(os.path.join(self._out("stream_pairs"), "*.parquet"))
        got = set()
        if files:
            sp = pq.read_table(files).to_pandas()
            first = self.manifest["stream_first_id"]
            got = set(zip((sp["id_a"] - first).tolist(), (sp["id_b"] - first).tolist()))
        res["stream_pair_recall"] = len(want & got) / len(want) if want else 0.0
        res["ok"] = (res["dup_pair_recall"] >= DUP_PAIR_RECALL_FLOOR
                     and res["dup_pair_precision"] >= DUP_PAIR_PRECISION_FLOOR
                     and res["ann_recall_at_k"] >= ANN_RECALL_FLOOR
                     and res["stream_pair_recall"] >= STREAM_PAIR_RECALL_FLOOR)
        return res


def _exact_topk(path: str, n_queries: int, k: int) -> set[tuple[int, int]]:
    """Exact cosine top-k (self excluded, ties to the lower id) in NumPy:
    the same definition as ``operators.similarity.topk_bruteforce``."""
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pandas()
    ids = t["vec_id"].to_numpy()
    X = np.array(t["embedding"].tolist(), dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    out = set()
    for qi in np.flatnonzero(ids < n_queries):
        sim = X @ X[qi]
        sim[qi] = -np.inf
        order = np.lexsort((ids, -sim))[:k]
        out.update((int(ids[qi]), int(ids[j])) for j in order)
    return out


def progress_start(p) -> float:
    """Epoch seconds at which a micro-batch started."""
    from datetime import datetime

    return datetime.strptime(p["timestamp"].replace("Z", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _progress_end(p) -> float:
    """Epoch seconds at which a micro-batch finished (start + duration)."""
    return progress_start(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


WORKLOADS = {"etl_job": EtlJob, "dedup_corpus": DedupCorpus}
