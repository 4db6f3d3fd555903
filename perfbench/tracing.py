"""Span tracing for the traced run, from outside the engine.

``Tracer.install`` wraps the public functions of each layer module at run
time (and every alias other package modules imported), so each call
records a span: layer, function, start, end and parent span.  A span sets
its own Spark job group and restores the caller's on exit, so every job
Spark runs while the span is open is attributed to it.  Spans stay in
memory; ``layer_metrics`` joins them with Spark's status store (the UI
REST ``/jobs`` and ``/stages`` endpoints) after the run.  Because Spark is
lazy, a job belongs to whichever span was open when it ran; the tracer adds
no materialization of its own.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone

PKG = "spreadsheet_etl_engine_spark"

# Layer -> (module, entry points).  Only the functions callers use are
# wrapped: per-cell or per-token helpers would cost more to trace than
# they take to run.  ``plans.compiler`` includes the ``plans.formula``
# calls it makes.
LAYER_ENTRY_POINTS = {
    "sources.readers": ("sources.readers", [
        "load_table", "read_csv", "read_json", "read_orc", "read_excel"]),
    "sources.xlsx_native": ("sources.xlsx_native", [
        "read_workbook", "write_workbook_multi", "write_workbook", "sheet_names"]),
    "sources.writers": ("sources.writers", [
        "write_parquet", "write_csv", "write_orc", "write_bucketed", "write_zordered",
        "write_xlsx", "formula_passthrough_columns"]),
    "plans.parser": ("plans.parser", ["parse_map_table", "parse_mapping"]),
    "plans.compiler": ("plans.compiler", ["compile_mapping"]),
    "plans.runner": ("plans.runner", ["run_mapping"]),
    "jobs": ("jobs", ["run_job", "run_workbook", "read_history"]),
    "operators.quality": ("operators.quality", [
        "validate_constraints", "check_constraints", "assert_constraints",
        "nonfinite_report"]),
    "operators.dedup": ("operators.dedup", [
        "exact_dedup", "minhash_signature", "minhash_band_keys", "minhash_lsh_pairs",
        "incremental_dedup", "seen_dedup_index", "simhash_hamming_pairs",
        "ngram_jaccard_pairs", "connected_components", "duplicate_clusters",
        "duplicate_cluster_edges", "embedding_lsh_pairs", "embedding_neardup_pairs",
        "semantic_dedup", "paragraph_dedup"]),
    "operators.similarity": ("operators.similarity", [
        "topk_bruteforce", "train_centroids_lite", "train_centroids_kmeans",
        "train_centroids_sample", "topk_ivf", "train_pq_codebooks", "pq_encode",
        "topk_pq", "train_ivfpq", "ivfpq_encode", "topk_ivfpq"]),
    "streaming.dedup": ("streaming.dedup", [
        "read_document_stream", "dedup_within_watermark", "seen_index_stream",
        "band_candidates_stream"]),
}
# ``session`` is timed by the benchmark around its own ``get_spark`` call.
LAYERS = ["session", *LAYER_ENTRY_POINTS]

# Layers that run no Spark job of their own report only call counts and
# times; the rest report the full set.
DRIVER_ONLY = {"session", "sources.xlsx_native", "plans.parser", "plans.compiler"}
TIME_FIELDS = ["calls", "wall_s", "self_s"]
SPARK_FIELDS = ["spark_jobs", "spark_tasks", "executor_cpu_s", "input_bytes",
                "shuffle_bytes", "output_bytes", "driver_gap_s"]

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_INTERRUPT = "spark.job.interruptOnCancel"


def layer_fields(layer: str) -> list[str]:
    return TIME_FIELDS if layer in DRIVER_ONLY else TIME_FIELDS + SPARK_FIELDS


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # --- spans -----------------------------------------------------------

    def _frames(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def open(self, layer: str, name: str) -> tuple[dict, tuple]:
        frames = self._frames()
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name,
               "parent": frames[-1] if frames else None, "t0": time.time(), "t1": None}
        self.spans.append(rec)
        frames.append(sid)
        saved = tuple(self.sc.getLocalProperty(k) for k in (_GROUP, _DESC, _INTERRUPT))
        self.sc.setJobGroup(f"perfbench-span-{sid}", f"{layer}.{name}")
        return rec, saved

    def close(self, rec: dict, saved: tuple) -> None:
        for key, value in zip((_GROUP, _DESC, _INTERRUPT), saved):
            self.sc.setLocalProperty(key, value)
        rec["t1"] = time.time()
        self._frames().pop()

    def add_span(self, layer: str, name: str, t0: float, t1: float, **extra) -> None:
        """Record a span timed elsewhere (session start, micro-batches)."""
        self.spans.append({"id": len(self.spans), "layer": layer, "name": name,
                           "parent": None, "t0": t0, "t1": t1, **extra})

    # --- wrapping --------------------------------------------------------

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec, saved = tracer.open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(rec, saved)

        return traced

    def install(self) -> None:
        """Wrap each layer's entry points in their module and in every
        other loaded package module that imported them by name."""
        replacements: dict[int, tuple] = {}
        for layer, (modname, names) in LAYER_ENTRY_POINTS.items():
            mod = importlib.import_module(f"{PKG}.{modname}")
            for name in names:
                fn = getattr(mod, name)
                replacements[id(fn)] = (fn, self._wrap(layer, fn))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for name, value in list(vars(mod).items()):
                hit = replacements.get(id(value))
                if hit is not None and hit[0] is value:
                    self._patched.append((mod, name, value))
                    setattr(mod, name, hit[1])

    def uninstall(self) -> None:
        for mod, name, original in reversed(self._patched):
            setattr(mod, name, original)
        self._patched.clear()


# --- status store ------------------------------------------------------------

def _rest(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def wait_for_listeners(sc) -> None:
    """Let the status store catch up with every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def fetch_jobs(sc) -> list[dict]:
    """Every finished job with its stage counters summed in."""
    stages = {}
    for s in _rest(sc, "stages"):
        stages.setdefault(s["stageId"], []).append(s)
    jobs = []
    claimed: set[int] = set()
    for j in sorted(_rest(sc, "jobs"), key=lambda j: j["jobId"]):
        rec = {"job": j["jobId"], "group": j.get("jobGroup"),
               "t0": _ts(j.get("submissionTime")), "t1": _ts(j.get("completionTime")),
               "tasks": 0, "cpu_s": 0.0, "input": 0, "shuffle": 0, "output": 0}
        for sid in j.get("stageIds", []):
            if sid in claimed:
                continue          # a stage reused by a later job counts once
            claimed.add(sid)
            for s in stages.get(sid, []):
                if s.get("status") == "SKIPPED":
                    continue
                rec["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                rec["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                rec["input"] += s.get("inputBytes", 0)
                rec["shuffle"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                rec["output"] += s.get("outputBytes", 0)
        if rec["t0"] is not None:
            jobs.append(rec)
    return jobs


# --- aggregation -----------------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(span: tuple[float, float], cover: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of ``span`` not covered by the (sorted, disjoint) ``cover``."""
    a, b = span
    out = []
    for c0, c1 in cover:
        if c1 <= a or c0 >= b:
            continue
        if c0 > a:
            out.append((a, c0))
        a = max(a, c1)
    if a < b:
        out.append((a, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def layer_metrics(spans: list[dict], jobs: list[dict], stream_group: str | None) -> dict:
    """Per-layer counters from spans joined with jobs.

    ``calls`` and ``wall_s`` count only a layer's outermost spans (a layer
    calling its own functions is one call); ``self_s`` is span time minus
    child spans; ``driver_gap_s`` is self time during which no Spark job
    of the application was running.  Jobs of the streaming query (its own
    job group) belong to ``streaming.dedup``."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    job_cover = _union([(j["t0"], j["t1"] or j["t0"]) for j in jobs])
    out = {layer: {f: 0 for f in layer_fields(layer)} for layer in LAYERS}
    for s in spans:
        if s["t1"] is None:
            continue
        m = out[s["layer"]]
        parent = by_id.get(s["parent"]) if s["parent"] is not None else None
        nested_in_same = False
        while parent is not None:
            if parent["layer"] == s["layer"]:
                nested_in_same = True
                break
            parent = by_id.get(parent["parent"]) if parent["parent"] is not None else None
        wall = s["t1"] - s["t0"]
        if not nested_in_same:
            m["calls"] += 1
            m["wall_s"] += wall
        kids = _union([(c["t0"], c["t1"]) for c in children.get(s["id"], []) if c["t1"]])
        own = _minus((s["t0"], s["t1"]), kids)
        m["self_s"] += _length(own)
        if "driver_gap_s" in m:
            m["driver_gap_s"] += sum(_length(_minus(iv, job_cover)) for iv in own)
    span_layer = {f"perfbench-span-{s['id']}": s["layer"] for s in spans}
    for j in jobs:
        layer = span_layer.get(j["group"])
        if layer is None and stream_group is not None and j["group"] == stream_group:
            layer = "streaming.dedup"
        if layer is None or "spark_jobs" not in out[layer]:
            continue
        m = out[layer]
        m["spark_jobs"] += 1
        m["spark_tasks"] += j["tasks"]
        m["executor_cpu_s"] += j["cpu_s"]
        m["input_bytes"] += j["input"]
        m["shuffle_bytes"] += j["shuffle"]
        m["output_bytes"] += j["output"]
    return out
