"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed, size)`` and is cached
under ``.bench_cache/<workload>-<seed>-<size>/`` in the checkout, so
repeated runs on one seed pay generation once.  The engine only ever sees
the files written here; the benchmark's own correctness checks read the
same files through DuckDB or NumPy, never through the engine.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per size tier.  "full" is what the benchmark measures;
# "small" keeps the benchmark's own test fast.
SIZES = {
    "full": {
        "etl_rows": 100_000,
        "workbook_rows": (2_000, 3_000, 4_000),
        "docs": 1_200,
        "vectors": 2_000,
        "stream_files": 48,
        "stream_docs_per_file": 100,
    },
    "small": {
        "etl_rows": 5_000,
        "workbook_rows": (300, 500),
        "docs": 600,
        "vectors": 600,
        "stream_files": 16,
        "stream_docs_per_file": 40,
    },
}

ETL_COLUMNS = ["id", "region", "product", "qty", "price", "code", "score", "note"]
_REGIONS = ["North", "South", "East", "West", "North, Upper", ""]
_PRODUCTS = ["Widget", "Gadget, large", "Bolt M6", "Nut", "Panel, 2x2",
             "Cable", "Sensor", "Frame"]
_NOTES = ["", "", "", "ok", "check, later", "1e3", "  padded  ", "N/A"]

VECTOR_DIM = 32
ANN_QUERIES = 20


def cache_dir(root: str, workload: str, seed: int, size: str) -> str:
    return os.path.join(root, ".bench_cache", f"{workload}-{seed}-{size}")


def ensure_inputs(root: str, workload: str, seed: int, size: str) -> tuple[str, dict, bool]:
    """Return ``(directory, manifest, generated)``; generate on a cache miss.

    Generation writes into a temporary sibling directory and renames it
    into place, so an interrupted run never leaves a half-written cache.
    """
    out = cache_dir(root, workload, seed, size)
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f), False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    sizes = SIZES[size]
    if workload == "etl_job":
        manifest = _gen_etl(tmp, rng, sizes)
    elif workload == "dedup_corpus":
        manifest = _gen_corpus(tmp, rng, sizes)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest, True


# --- etl_job -------------------------------------------------------------

def _etl_table(rng: np.random.Generator, n: int, start_id: int = 1) -> dict:
    """Spreadsheet-shaped columns as display strings plus typed twins.

    Blanks, quoted commas, padded text and numeric-looking strings
    (zero-padded codes, ``1e3``) are all present; no cell equals a header
    name, so fidelity-mode header indirection never fires.  No value holds
    a double quote: the engine's CSV reader keeps Spark's backslash escape,
    so an RFC 4180 doubled quote would not read back as one quote."""
    qty = rng.integers(1, 101, n)
    cents = rng.integers(50, 500_000, n)
    score = rng.integers(0, 100_000, n) / 100.0
    return {
        "id": np.arange(start_id, start_id + n, dtype=np.int64),
        "region": np.array(_REGIONS, dtype=object)[rng.integers(0, len(_REGIONS), n)],
        "product": np.array(_PRODUCTS, dtype=object)[rng.integers(0, len(_PRODUCTS), n)],
        "qty": qty.astype(np.int64),
        "price": cents / 100.0,
        "price_text": np.array([f"{c // 100}.{c % 100:02d}" for c in cents.tolist()], dtype=object),
        "code": np.array([f"{c:05d}" for c in rng.integers(0, 100_000, n).tolist()], dtype=object),
        "score": score,
        "score_text": np.array([f"{s:.2f}" for s in score.tolist()], dtype=object),
        "note": np.array(_NOTES, dtype=object)[rng.integers(0, len(_NOTES), n)],
    }


def _text_row(t: dict, i: int) -> list[str]:
    return [str(t["id"][i]), t["region"][i], t["product"][i], str(t["qty"][i]),
            t["price_text"][i], t["code"][i], t["score_text"][i], t["note"][i]]


def _gen_etl(out: str, rng: np.random.Generator, sizes: dict) -> dict:
    n = sizes["etl_rows"]
    t = _etl_table(rng, n)
    typed = pa.table({
        "id": t["id"], "region": t["region"].tolist(), "product": t["product"].tolist(),
        "qty": t["qty"], "price": t["price"], "code": t["code"].tolist(),
        "score": t["score"], "note": t["note"].tolist(),
    })
    # Four row groups so the typed scan splits over the local cores.
    pq.write_table(typed, os.path.join(out, "source.parquet"),
                   row_group_size=max(1, -(-n // 4)))
    with open(os.path.join(out, "source.csv"), "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(ETL_COLUMNS)
        for i in range(n):
            w.writerow(_text_row(t, i))
    workbooks = []
    next_id = n + 1
    for j, rows in enumerate(sizes["workbook_rows"]):
        wt = _etl_table(rng, rows, start_id=next_id)
        next_id += rows
        text_rows = [_text_row(wt, i) for i in range(rows)]
        name = f"workbook{j}.xlsx"
        write_xlsx(os.path.join(out, name), [
            ("Dashboard", [["source", "Source"], ["map", "Map"], ["output", "Output"]]),
            ("Map", [list(r) for r in WORKBOOK_MAP]),
            ("Source", [ETL_COLUMNS] + text_rows),
        ], numeric_cols={"Source": {0, 3, 4, 6}})
        # The same sheet as CSV text: the checks' independent copy.
        with open(os.path.join(out, f"workbook{j}.source.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(ETL_COLUMNS)
            w.writerows(text_rows)
        workbooks.append({"xlsx": name, "rows": rows, "cells": rows * len(ETL_COLUMNS)})
    return {"rows": n, "workbooks": workbooks,
            "bytes": {"parquet": os.path.getsize(os.path.join(out, "source.parquet")),
                      "csv": os.path.getsize(os.path.join(out, "source.csv"))}}


# Map sheet carried inside every generated workbook (fidelity semantics).
WORKBOOK_MAP = (
    ("Rule", "Instruction"),
    ("_filter:busy", 'eval: src[qty] >= 50 || src[region] == "East"'),
    ("Id", "src[id]"),
    ("Region", "src[region]"),
    ("Code", "src[code]"),
    ("Price", "src[price]"),
    ("Tag", "formula:=UPPER(src[product])"),
)


# --- dedup_corpus --------------------------------------------------------

def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, n)
    words = {"".join(letters[rng.integers(0, 26, k)]) for k in lens.tolist()}
    return sorted(words)


def _mutate(rng: np.random.Generator, words: list[str], vocab: list[str], edits: int) -> list[str]:
    out = list(words)
    for pos in rng.choice(len(out), size=edits, replace=False).tolist():
        out[pos] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def _documents(rng: np.random.Generator, n: int, vocab: list[str], first_id: int) -> tuple[list[str], list[int]]:
    """``n`` documents and their planted cluster ids.

    One mega-cluster (5% of the corpus) of near-copies of one document,
    clusters of 2-6 near-copies, and a tail with no duplicates.  A
    near-copy replaces 1-2 of 60-90 words, so every planted pair has a
    word-3-shingle Jaccard of about 0.85 or more; unrelated documents
    share essentially no shingles."""
    texts: list[str] = []
    clusters: list[int] = []
    cluster = first_id

    def base() -> list[str]:
        k = int(rng.integers(60, 91))
        return [vocab[i] for i in rng.integers(0, len(vocab), k).tolist()]

    mega = max(3, n // 20)
    root = base()
    for _ in range(mega):
        texts.append(" ".join(_mutate(rng, root, vocab, 1)))
        clusters.append(cluster)
    cluster += 1
    while len(texts) < n * 0.6:
        root = base()
        for _ in range(int(rng.integers(2, 7))):
            texts.append(" ".join(_mutate(rng, root, vocab, int(rng.integers(1, 3)))))
            clusters.append(cluster)
        cluster += 1
    while len(texts) < n:
        texts.append(" ".join(base()))
        clusters.append(cluster)
        cluster += 1
    order = rng.permutation(len(texts))[:n]
    return [texts[i] for i in order], [clusters[i] for i in order]


def _doc_table(texts: list[str], first_id: int) -> pa.Table:
    ids = np.arange(first_id, first_id + len(texts), dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["bench"] * len(texts),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _gen_corpus(out: str, rng: np.random.Generator, sizes: dict) -> dict:
    vocab = _vocab(rng, 20_000)
    n = sizes["docs"]
    texts, clusters = _documents(rng, n, vocab, first_id=1)
    pq.write_table(_doc_table(texts, 1), os.path.join(out, "corpus.parquet"),
                   row_group_size=max(1, -(-n // 4)))
    np.save(os.path.join(out, "corpus_clusters.npy"), np.array(clusters, dtype=np.int64))

    # Embeddings with planted neighbours: groups of 1-5 vectors around a
    # random centre, so every query has near neighbours to find.
    nv = sizes["vectors"]
    centres = rng.standard_normal((nv // 3 + 1, VECTOR_DIM))
    owner = np.sort(rng.integers(0, len(centres), nv))
    vecs = centres[owner] + 0.15 * rng.standard_normal((nv, VECTOR_DIM))
    pq.write_table(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": [list(map(float, v)) for v in vecs],
    }), os.path.join(out, "vectors.parquet"), row_group_size=max(1, -(-nv // 4)))

    # The stream: fresh documents (ids after the corpus), staged as one
    # parquet file per arrival; the run moves them into the watched
    # directory one at a time.
    staged = os.path.join(out, "stream")
    os.makedirs(staged)
    per = sizes["stream_docs_per_file"]
    total = sizes["stream_files"] * per
    s_texts, s_clusters = _documents(rng, total, vocab, first_id=10_000_000)
    first = 10_000_000
    for f in range(sizes["stream_files"]):
        chunk = s_texts[f * per:(f + 1) * per]
        pq.write_table(_doc_table(chunk, first + f * per),
                       os.path.join(staged, f"part-{f:05d}.parquet"))
    np.save(os.path.join(out, "stream_clusters.npy"), np.array(s_clusters, dtype=np.int64))
    return {"docs": n, "vectors": nv, "dim": VECTOR_DIM, "queries": ANN_QUERIES,
            "stream_files": sizes["stream_files"], "stream_docs_per_file": per,
            "stream_first_id": first}


# --- minimal xlsx codec (independent of the engine's) ----------------------

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PR = "http://schemas.openxmlformats.org/package/2006/relationships"


def _col(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, sheets: list[tuple[str, list[list[str]]]],
               numeric_cols: dict[str, set[int]] | None = None) -> None:
    """Write string grids as an xlsx workbook.

    Cells in ``numeric_cols[sheet]`` (data rows only) become number cells
    holding the text verbatim; every other non-empty cell is an inline
    string and empty cells are omitted."""
    numeric_cols = numeric_cols or {}
    n = len(sheets)
    ct = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(1, n + 1))
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml",
                   '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.'
                   'openxmlformats.org/package/2006/content-types"><Default Extension="rels" '
                   'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                   '<Default Extension="xml" ContentType="application/xml"/><Override '
                   'PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-'
                   f'officedocument.spreadsheetml.sheet.main+xml"/>{ct}</Types>')
        z.writestr("_rels/.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{_PR}">'
                   f'<Relationship Id="rId1" Type="{_R}/officeDocument" '
                   'Target="xl/workbook.xml"/></Relationships>')
        z.writestr("xl/workbook.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{_NS}" '
                   f'xmlns:r="{_R}"><sheets>' + "".join(
                       f'<sheet name="{name}" sheetId="{i}" r:id="rId{i}"/>'
                       for i, (name, _) in enumerate(sheets, start=1))
                   + "</sheets></workbook>")
        z.writestr("xl/_rels/workbook.xml.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{_PR}">'
                   + "".join(f'<Relationship Id="rId{i}" Type="{_R}/worksheet" '
                             f'Target="worksheets/sheet{i}.xml"/>' for i in range(1, n + 1))
                   + "</Relationships>")
        for i, (name, grid) in enumerate(sheets, start=1):
            nums = numeric_cols.get(name, set())
            body = []
            for ri, row in enumerate(grid, start=1):
                cells = []
                for ci, v in enumerate(row):
                    if v == "":
                        continue
                    ref = f"{_col(ci)}{ri}"
                    if ri > 1 and ci in nums:
                        cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                    else:
                        cells.append(f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                                     f"{escape(v)}</t></is></c>")
                body.append(f'<row r="{ri}">{"".join(cells)}</row>')
            z.writestr(f"xl/worksheets/sheet{i}.xml",
                       f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{_NS}">'
                       f'<sheetData>{"".join(body)}</sheetData></worksheet>')


def read_xlsx_sheet(path: str, sheet: str) -> list[list[str]]:
    """Read one sheet of an xlsx file as display strings (header row first).

    Covers what the engine's writer emits: inline strings and numbers."""
    q = f"{{{_NS}}}"
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rid = next(s.get(f"{{{_R}}}id") for s in wb.iter(f"{q}sheet") if s.get("name") == sheet)
        target = next(r.get("Target") for r in rels if r.get("Id") == rid).lstrip("/")
        root = ET.fromstring(z.read(target if target.startswith("xl/") else "xl/" + target))
    grid: list[list[str]] = []
    for row in root.iter(f"{q}row"):
        cells: dict[int, str] = {}
        for c in row.iter(f"{q}c"):
            ref = c.get("r")
            letters = "".join(ch for ch in ref if ch.isalpha())
            idx = 0
            for ch in letters:
                idx = idx * 26 + ord(ch) - 64
            v = c.find(f"{q}v")
            if c.get("t") == "inlineStr":
                text = "".join(x.text or "" for x in c.iter(f"{q}t"))
            else:
                text = v.text if v is not None and v.text else ""
            cells[idx - 1] = text
        width = max(cells) + 1 if cells else 0
        grid.append([cells.get(i, "") for i in range(width)])
    width = max((len(r) for r in grid), default=0)
    return [r + [""] * (width - len(r)) for r in grid]
