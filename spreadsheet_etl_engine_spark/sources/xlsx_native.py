"""Minimal native xlsx codec — stdlib only (``zipfile`` + ``ElementTree``).

An ``.xlsx`` workbook is a ZIP of OOXML parts (ECMA-376 / ISO 29500;
the format is public).  This module reads and writes the minimal part
set a single-sheet workbook needs, with no third-party dependency:

* ``[Content_Types].xml`` — part-type registry;
* ``_rels/.rels`` — package → workbook relationship;
* ``xl/workbook.xml`` + ``xl/_rels/workbook.xml.rels`` — sheet registry;
* ``xl/styles.xml`` — minimal stylesheet (readers require one);
* ``xl/worksheets/sheet1.xml`` — the cell grid.

The spreadsheet-native ingest/egress path is the reference's entire
identity (``main.gs:51-53`` reads the sheet, ``main.gs:124-129``
overwrites the output sheet) and this container has no openpyxl, so the
codec is what makes that path real rather than gated.

Write-side cell mapping (mirrors the reference's ``setValues``, where a
string starting with ``=`` becomes a live formula, ``main.gs:86-98``):

* ``None``        → cell omitted (blank);
* ``bool``        → ``t="b"`` with 0/1;
* ``int/float``   → number cell ``<v>`` (shortest ``repr`` text);
* str ``=...``    → formula cell ``<f>`` (deferred evaluation);
* other str       → ``t="inlineStr"`` (no sharedStrings indirection —
  one part fewer, and streaming-friendly: each row is self-contained).

Read side accepts inline strings, sharedStrings (files written by other
tools), numbers, booleans, and formula cells; formulas read back as
their ``=``-prefixed text (this engine does not evaluate spreadsheet
formulas on read — ``plans/formula.py`` compiles the DSL's formulas
instead).  Cells come back as *display strings* plus a per-cell
numeric-typed flag so callers can do typed-column inference.

Scale stance: xlsx is a driver-side, spreadsheet-sized format (Excel's
own grid caps at 1,048,576 rows x 16,384 columns — the same caps this
reader enforces as named errors, since a corrupt ``r=`` attribute would
otherwise demand an arbitrarily large grid allocation before any other
validation fires); the distributed sinks are parquet/CSV
(``writers.py``).  Driver-side materialization here is by design.

Display-string contract (r15 review pass 15): number cells read back as
their raw ``<v>`` text — for files THIS codec wrote that is the shortest
round-trip repr, but foreign writers may store exponent notation
(``1.5E2``) and date cells are stored as day serials with a style
reference, so a foreign date cell reads as its serial text, not a
formatted date (this engine's datetime path is typed parquet/CSV, not
spreadsheet styles).  Corrupt containers (non-zip bytes, malformed XML,
missing parts, dangling relationships, out-of-range shared-string
indexes) raise ``ValueError`` with the reason named — never a raw
``BadZipFile`` / ``ParseError`` / ``IndexError`` from the stdlib.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape, quoteattr

SHEET_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
PKG_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"

def _content_types(n_sheets: int) -> str:
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(1, n_sheets + 1)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        f"{overrides}</Types>"
    )


_ROOT_RELS = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="{PKG_REL_NS}">
<Relationship Id="rId1" Type="{REL_NS}/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _workbook_rels(n_sheets: int) -> str:
    rels = "".join(
        f'<Relationship Id="rId{i}" Type="{REL_NS}/worksheet" '
        f'Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, n_sheets + 1)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{PKG_REL_NS}">{rels}'
        f'<Relationship Id="rId{n_sheets + 1}" Type="{REL_NS}/styles" '
        'Target="styles.xml"/></Relationships>'
    )

_STYLES = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="{SHEET_NS}">
<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>
<fills count="1"><fill><patternFill patternType="none"/></fill></fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf/></cellStyleXfs>
<cellXfs count="1"><xf xfId="0"/></cellXfs>
</styleSheet>"""


def column_letter(col: int) -> str:
    """1-based column index → A1 letters (same algorithm as the
    reference's ``columnToLetter``, ``main.gs:291-299``)."""
    letters = ""
    while col > 0:
        col, rem = divmod(col - 1, 26)
        letters = chr(65 + rem) + letters
    return letters


_CELL_REF_RE = re.compile(r"^([A-Z]+)(\d+)$")

# Excel's own grid bounds (XFD1048576).  A row/cell reference beyond
# them is corrupt — and honoring it would allocate an arbitrarily large
# padded grid BEFORE any content validation fires (r15 review pass 15:
# the same fail-loud-not-OOM class the media codecs' decode budgets
# guard).
_MAX_ROW = 1_048_576
_MAX_COL = 16_384

# XML 1.0 forbids these control characters outright — they cannot be
# escaped, so a cell containing one is unrepresentable in xlsx (openpyxl
# raises IllegalCharacterError for the same reason).
_ILLEGAL_XML_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def letters_to_ordinal(letters: str) -> int:
    """A1 column letters → 1-based ordinal, the inverse of
    ``column_letter``: A→1, Z→26, AA→27 (case-insensitive)."""
    n = 0
    for ch in letters.upper():
        n = n * 26 + (ord(ch) - 64)
    return n


def _num_text(value) -> str:
    """Shortest round-trip decimal text for a number (what DuckDB/Spark
    also print for doubles, keeping string round-trips engine-portable).
    Non-finite doubles (inf/nan) are not valid OOXML number text — Excel
    itself cannot hold them in a number cell — so they fail loudly like
    illegal control characters do, instead of writing a corrupt cell."""
    if isinstance(value, bool):
        return "1" if value else "0"
    if isinstance(value, int):
        return str(value)
    f = float(value)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(
            f"non-finite number {f!r} cannot be written as an xlsx number "
            "cell; filter or stringify non-finite values before the xlsx sink"
        )
    return repr(f)


def _cell_xml(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{_num_text(value)}</v></c>'
    text = str(value)
    bad = _ILLEGAL_XML_RE.search(text)
    if bad:
        raise ValueError(
            f"cell {ref} contains control character {bad.group(0)!r}, which "
            "XML 1.0 cannot represent even escaped; strip control "
            "characters before writing xlsx (note: a carriage return is "
            "representable but XML parsers normalize it to \\n on read)"
        )
    if text.startswith("="):
        return f'<c r="{ref}"><f>{escape(text[1:])}</f></c>'
    # xml:space="preserve" keeps leading/trailing whitespace (fidelity
    # strings round-trip exactly).
    return (
        f'<c r="{ref}" t="inlineStr"><is>'
        f'<t xml:space="preserve">{escape(text)}</t></is></c>'
    )


def _sheet_xml(header: list[str], rows: list[tuple]) -> str:
    body: list[str] = []
    all_rows = [tuple(header)] + [tuple(r) for r in rows]
    for ri, row in enumerate(all_rows, start=1):
        cells = "".join(
            _cell_xml(f"{column_letter(ci)}{ri}", v)
            for ci, v in enumerate(row, start=1)
        )
        body.append(f'<row r="{ri}">{cells}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{SHEET_NS}"><sheetData>'
        + "".join(body)
        + "</sheetData></worksheet>"
    )


def write_workbook_multi(
    path: str,
    sheets: list[tuple[str, list[str], list[tuple]]],
) -> None:
    """Write a multi-sheet workbook: ``sheets`` is an ordered list of
    ``(sheet_name, header, rows)``.  The reference operates on one
    spreadsheet holding Dashboard/Map/Data/Output sheets side by side
    (``main.gs:40-53``); this is the sink that preserves that shape."""
    if not sheets:
        raise ValueError("workbook needs at least one sheet")
    names = [s[0] for s in sheets]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate sheet names: {names}")
    for name in names:
        # Excel's own sheet-name rules; a name violating them writes a
        # workbook Excel refuses to open, so fail at the sink instead.
        if not name or len(name) > 31 or re.search(r"[\[\]:*?/\\]", name):
            raise ValueError(
                f"invalid sheet name {name!r}: must be 1-31 chars with "
                "none of [ ] : * ? / \\"
            )
    # quoteattr (not escape) for attribute values: escape() leaves double
    # quotes alone, which would break out of the name="..." attribute.
    entries = "".join(
        f'<sheet name={quoteattr(name)} sheetId="{i}" r:id="rId{i}"/>'
        for i, name in enumerate(names, start=1)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{SHEET_NS}" xmlns:r="{REL_NS}"><sheets>'
        f"{entries}</sheets></workbook>"
    )
    # Render (and therefore VALIDATE) every sheet before the zip opens:
    # ZipFile(path, "w") truncates the target immediately, so a
    # cell-level error (non-finite number, control character) midway
    # through sheet k would otherwise destroy the original file on an
    # in-place rewrite (run_workbook's out_path=in_path shape).
    rendered = [_sheet_xml(header, rows) for _, header, rows in sheets]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _content_types(len(sheets)))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", _workbook_rels(len(sheets)))
        zf.writestr("xl/styles.xml", _STYLES)
        for i, xml in enumerate(rendered, start=1):
            zf.writestr(f"xl/worksheets/sheet{i}.xml", xml)


def write_workbook(
    path: str,
    header: list[str],
    rows: list[tuple],
    *,
    sheet_name: str = "Output",
) -> None:
    """Write a single-sheet workbook: header row 1, data rows from row 2
    (the reference's output layout, ``main.gs:124-129``)."""
    write_workbook_multi(path, [(sheet_name, header, rows)])


def sheet_names(path: str) -> list[str]:
    with _open_workbook(path) as zf:
        wb = _parse_part(zf, "xl/workbook.xml")
        return [s.get("name") for s in wb.iter(_tag("sheet"))]


def _open_workbook(path: str) -> zipfile.ZipFile:
    """Open an xlsx container with the corrupt-bytes error normalized:
    a non-zip file raises ``ValueError`` naming the problem, not a raw
    ``zipfile.BadZipFile`` (r15 review pass 15 — the read path's error
    surface is ValueError, like every codec here)."""
    try:
        return zipfile.ZipFile(path)
    except zipfile.BadZipFile as exc:
        raise ValueError(f"{path!r} is not an xlsx workbook "
                         f"(not a ZIP container: {exc})") from exc


def _parse_part(zf: zipfile.ZipFile, name: str) -> ET.Element:
    """Read + parse one XML part with missing-part and malformed-XML
    errors normalized to named ValueErrors (KeyError / ParseError — a
    SyntaxError subclass — would otherwise escape the read path)."""
    try:
        data = zf.read(name)
    except KeyError:
        raise ValueError(
            f"xlsx workbook is missing required part {name!r}") from None
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(
            f"xlsx part {name!r} is not well-formed XML: {exc}") from exc


def _tag(name: str) -> str:
    return f"{{{SHEET_NS}}}{name}"


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in zf.namelist():
        return []                        # legal: all-inline workbook
    root = _parse_part(zf, "xl/sharedStrings.xml")
    out = []
    for si in root.iter(_tag("si")):
        # <si> may hold one <t> or rich-text runs of <r><t>; join texts.
        out.append("".join(t.text or "" for t in si.iter(_tag("t"))))
    return out


def _sheet_part(zf: zipfile.ZipFile, sheet_name: str | int) -> str:
    wb = _parse_part(zf, "xl/workbook.xml")
    sheets = list(wb.iter(_tag("sheet")))
    if not sheets:
        raise ValueError("workbook has no sheets")
    if isinstance(sheet_name, int):
        try:
            chosen = sheets[sheet_name]
        except IndexError:
            raise ValueError(f"workbook has no sheet index {sheet_name}") from None
    else:
        match = [s for s in sheets if s.get("name") == sheet_name]
        if not match:
            names = [s.get("name") for s in sheets]
            raise ValueError(f"no sheet named {sheet_name!r}; workbook has {names}")
        chosen = match[0]
    rid = chosen.get(f"{{{REL_NS}}}id")
    rels = _parse_part(zf, "xl/_rels/workbook.xml.rels")
    for rel in rels.iter(f"{{{PKG_REL_NS}}}Relationship"):
        if rel.get("Id") == rid:
            target = rel.get("Target")
            return target if target.startswith("xl/") else f"xl/{target}"
    raise ValueError(f"sheet relationship {rid!r} not found")


def read_workbook(
    path: str, *, sheet_name: str | int = 0
) -> tuple[list[str], list[list[str]], list[list[bool]]]:
    """Read one sheet → ``(header, rows, numeric_flags)``.

    ``rows`` hold display strings (blank cells → ``""``); ``numeric_flags``
    marks, per cell, whether the source cell was a number cell — the hook
    ``readers.read_excel`` uses for typed-column inference.
    """
    with _open_workbook(path) as zf:
        shared = _shared_strings(zf)
        root = _parse_part(zf, _sheet_part(zf, sheet_name))
        grid: list[list[str]] = []
        flags: list[list[bool]] = []
        for rpos, row in enumerate(root.iter(_tag("row")), start=1):
            # Honor the row's r number: writers that omit empty rows (or
            # emit rows out of order — both legal OOXML) must not shift
            # data rows; missing rows materialize as blank.
            try:
                rn = int(row.get("r", rpos))
            except ValueError:
                rn = rpos
            if rn < 1:
                rn = rpos                # corrupt r=0/negative: sequential
            if rn > _MAX_ROW:
                raise ValueError(
                    f"xlsx row reference r={rn} exceeds Excel's "
                    f"{_MAX_ROW}-row grid; the file is corrupt")
            while len(grid) < rn:
                grid.append([])
                flags.append([])
            cells = grid[rn - 1]
            numeric = flags[rn - 1]

            def put(idx: int, text: str, is_num: bool) -> None:
                # Assign by computed index, padding as needed — append-only
                # would misplace out-of-order or duplicate cell refs.
                while len(cells) < idx:
                    cells.append("")
                    numeric.append(False)
                cells[idx - 1] = text
                numeric[idx - 1] = is_num

            prev_idx = 0
            for c in row.iter(_tag("c")):
                ref = c.get("r")
                m = _CELL_REF_RE.match(ref) if ref else None
                # OOXML allows omitting c/@r: the cell implicitly follows
                # the previous cell (streaming writers emit this for
                # sparse rows) — element position would relocate values
                # leftwards past the gaps.
                idx = letters_to_ordinal(m.group(1)) if m else prev_idx + 1
                if idx > _MAX_COL:
                    raise ValueError(
                        f"xlsx cell reference {ref or idx!r} exceeds "
                        f"Excel's {_MAX_COL}-column grid; the file is "
                        "corrupt")
                prev_idx = idx
                ctype = c.get("t", "n")
                v = c.find(_tag("v"))
                f = c.find(_tag("f"))
                if ctype == "inlineStr":
                    is_el = c.find(_tag("is"))
                    text = "".join(
                        t.text or "" for t in is_el.iter(_tag("t"))
                    ) if is_el is not None else ""
                    put(idx, text, False)
                elif ctype == "s":
                    if v is None:
                        put(idx, "", False)
                    else:
                        try:
                            s_idx = int(v.text)
                            if not 0 <= s_idx < len(shared):
                                # range-check, not bare indexing: a
                                # negative index would silently hit
                                # Python's end-relative lookup
                                raise IndexError
                        except (ValueError, IndexError):
                            raise ValueError(
                                f"xlsx cell {ref or idx} references "
                                f"shared string {v.text!r}, outside the "
                                f"{len(shared)}-entry table") from None
                        put(idx, shared[s_idx], False)
                elif f is not None:
                    # Formula wins even when a cached <v> is present —
                    # Excel always writes the cached value alongside <f>,
                    # and reading the cache back would silently destroy
                    # the formula on the preserve-and-rewrite path.
                    put(idx, "=" + (f.text or ""), False)
                elif ctype == "b":
                    put(idx, "TRUE" if v is not None and v.text == "1" else "FALSE", False)
                else:  # "n" or "str" (formula cached string)
                    put(idx, v.text if v is not None and v.text else "", ctype == "n")
    if not grid:
        return [], [], []
    header = grid[0]
    width = max(len(r) for r in grid)
    header = header + [f"_c{i}" for i in range(len(header), width)]
    rows = [r + [""] * (width - len(r)) for r in grid[1:]]
    nflags = [r + [False] * (width - len(r)) for r in flags[1:]]
    return header, rows, nflags
