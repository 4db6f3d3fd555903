"""Multimodal binary-column plumbing and sink tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.operators import multimodal as MM
from spreadsheet_etl_engine_spark.plans.parser import parse_mapping
from spreadsheet_etl_engine_spark.sources import writers as W


def test_decode_media_batches(spark):
    media = MM.synth_media(spark, 30)
    decoded = MM.decode_media(media)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert len(rows) == 30
    r0 = rows[0]  # IMG:32x16
    assert (r0["kind"], r0["width"], r0["height"], r0["n_frames"]) == ("image", 32, 16, 1)
    r2 = rows[2]  # VID:6x64x48
    assert (r2["kind"], r2["width"], r2["height"], r2["n_frames"]) == ("video", 64, 48, 6)
    # Deterministic: same input -> same payload hash across runs.
    again = {r["media_id"]: r["payload_hash"] for r in MM.decode_media(media).collect()}
    assert again == {k: v["payload_hash"] for k, v in rows.items()}


def test_corrupt_media_never_kills_the_job(spark):
    """Totality contract: truncated/foreign bytes must decode to (0,0,0),
    fall back to the md5 feature, and pass through resize unchanged —
    one bad row must not fail a 100 TB job."""
    bad = [
        (1, "image", b"BM" + b"\x00" * 20, 0),         # truncated BMP
        (2, "audio", b"RIFF\x00\x00\x00\x00AVI LIST", 0),  # RIFF but not WAVE
        (3, "image", b"P6 garbage", 0),                # malformed PPM header
    ]
    media = spark.createDataFrame(bad, MM.MEDIA_SCHEMA)
    decoded = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert all((decoded[i]["width"], decoded[i]["height"]) == (0, 0) for i in (1, 3))
    feats = {r["media_id"]: r["feature"] for r in MM.extract_features(media).collect()}
    # len pin first: an empty feats dict would make the all() vacuous
    # (r12 test-suite review).
    assert len(feats) == len(bad)
    assert all(len(v) == MM.FEATURE_DIM for v in feats.values())
    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=4, height=4).collect()}
    assert resized == {i: bytes(b) for i, _k, b, _s in bad}


def test_compressed_decode_is_marked_stub():
    with pytest.raises(NotImplementedError, match="PIL/cv2/librosa"):
        MM._decode_compressed(b"anything")


def test_real_media_decode_end_to_end(spark):
    """BMP/PPM/WAV bytes decode through the Arrow pipeline with real
    dimensions — no fake headers involved."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    img = (np.arange(6 * 10 * 3) % 256).astype(np.uint8).reshape(6, 10, 3)
    wave = (np.arange(-300, 300, dtype=np.int16)).reshape(-1, 2)
    rows = [
        (1, "image", MC.encode_bmp(img), 0),
        (2, "image", MC.encode_ppm(img), 0),
        (3, "audio", MC.encode_wav(wave, 8000), 0),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (10, 6)
    assert (got[2]["width"], got[2]["height"]) == (10, 6)
    assert (got[3]["width"], got[3]["height"]) == (300, 2)  # samples, channels

    # Real resize: decoded pixels must equal numpy nearest-neighbor.
    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=5, height=3).collect()}
    expect = MC.resize_nearest(img, 5, 3)
    assert np.array_equal(MC.decode_bmp(resized[1]), expect)
    assert np.array_equal(MC.decode_ppm(resized[2]), expect)
    assert resized[3] == bytes(rows[2][2])  # audio untouched

    # Real image features: per-channel means of the gradient image.
    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    imgf = img.astype(np.float32) / 255.0
    assert np.allclose(feats[1][:3], imgf.mean(axis=(0, 1)), atol=1e-5)
    assert np.allclose(feats[1][3:6], imgf.std(axis=(0, 1)), atol=1e-5)


def test_png_roundtrip_all_filters_and_color_types():
    """encode_png applies each scanline filter forward; decode_png must
    reconstruct the exact pixels for every (filter, color type) pair —
    this is the lossless-codec property test vs the BMP path's layout."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    rng = np.random.default_rng(7)
    shapes = {
        1: rng.integers(0, 256, (9, 13), dtype=np.uint8),        # gray
        2: rng.integers(0, 256, (5, 7, 2), dtype=np.uint8),      # gray+alpha
        3: rng.integers(0, 256, (6, 10, 3), dtype=np.uint8),     # RGB
        4: rng.integers(0, 256, (4, 11, 4), dtype=np.uint8),     # RGBA
    }
    for ch, img in shapes.items():
        want = img if img.ndim == 3 else img[:, :, None]
        for ft in range(5):
            got = MC.decode_png(MC.encode_png(img, filter_type=ft))
            assert got.shape == want.shape, (ch, ft)
            assert np.array_equal(got, want), f"channels={ch} filter={ft}"

    # PNG and BMP agree pixel-for-pixel on the same RGB image.
    img = shapes[3]
    assert np.array_equal(MC.decode_png(MC.encode_png(img)),
                          MC.decode_bmp(MC.encode_bmp(img)))


def test_png_stored_size_formula_and_rejects():
    """level=0 byte size must equal the closed formula the generative
    oracle recomputes (68 + h*(1+3w) for single-block RGB), and the
    unsupported-variant gates fail loudly instead of mis-decoding."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    for w, h in [(8, 6), (23, 13), (1, 1)]:
        img = (np.arange(h * w * 3) % 256).astype(np.uint8).reshape(h, w, 3)
        assert len(MC.encode_png(img, level=0)) == 68 + h * (1 + 3 * w)

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    good = MC.encode_png(img)
    with pytest.raises(ValueError, match="not a PNG"):
        MC.decode_png(b"\x89PNG\r\n\x1a" + good[8:])
    with pytest.raises(ValueError, match="truncated|IHDR|size|empty"):
        MC.decode_png(good[:40])
    # Interlace flag flipped in IHDR (r12: Adam7 is now SUPPORTED, so
    # the hybrid — interlaced header over sequential scanlines — must
    # fail loud on the per-pass size accounting, not decode garbage).
    bad = bytearray(good)
    bad[8 + 4 + 4 + 12] = 1  # IHDR interlace byte
    with pytest.raises(ValueError, match="size mismatch"):
        MC.decode_png(bytes(bad))
    # An UNKNOWN interlace method stays rejected by name.
    bad[8 + 4 + 4 + 12] = 2
    with pytest.raises(ValueError, match="interlace"):
        MC.decode_png(bytes(bad))
    with pytest.raises(ValueError, match="uint8"):
        MC.encode_png(img.astype(np.int32))


def test_png_through_spark_pipeline(spark):
    """PNG rows decode / feature-extract / resize through the Arrow
    pipeline exactly like BMP/PPM: real dimensions, RGB-normalized
    features, lossless nearest-neighbor resize."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    img = (np.arange(6 * 10 * 3) % 256).astype(np.uint8).reshape(6, 10, 3)
    rgba = np.dstack([img, np.full((6, 10), 200, dtype=np.uint8)])
    rows = [
        (1, "image", MC.encode_png(img), 0),
        (2, "image", MC.encode_png(rgba), 0),
        (3, "image", MC.encode_png(img, level=0, filter_type=4), 0),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert all((got[i]["width"], got[i]["height"]) == (10, 6) for i in (1, 2, 3))

    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    imgf = img.astype(np.float32) / 255.0
    # RGBA normalizes to RGB: same embedding as the RGB row.
    assert np.allclose(feats[1][:3], imgf.mean(axis=(0, 1)), atol=1e-5)
    assert np.allclose(feats[1], feats[2], atol=1e-6)

    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=5, height=3).collect()}
    assert np.array_equal(MC.decode_png(resized[1]), MC.resize_nearest(img, 5, 3))
    # Color type survives: the RGBA row stays 4-channel.
    assert MC.decode_png(resized[2]).shape == (3, 5, 4)

    # Probe-vs-validate split: decode_media reads the IHDR only, so a
    # corrupt DEFLATE stream still probes its true dims (pixel validation
    # belongs to the feature stage, which falls back to the md5 embedding);
    # a corrupt HEADER hits the totality contract (0,0,0 + passthrough).
    bad_idat = MC.encode_png(img)[:60] + b"\x00" * 8
    bad_ihdr = MC.encode_png(img)[:20]
    bad = spark.createDataFrame(
        [(9, "image", bad_idat, 0), (10, "image", bad_ihdr, 0)],
        MM.MEDIA_SCHEMA)
    dec = {r["media_id"]: r for r in MM.decode_media(bad).collect()}
    assert (dec[9]["width"], dec[9]["height"]) == (10, 6)
    assert (dec[10]["width"], dec[10]["height"], dec[10]["n_frames"]) == (0, 0, 0)
    bad_feats = {r["media_id"]: r["feature"]
                 for r in MM.extract_features(bad).collect()}
    assert len(bad_feats) == 2  # non-empty: the all() below must bite
    assert all(len(v) == MM.FEATURE_DIM for v in bad_feats.values())


def test_frame_sample(spark):
    media = MM.synth_media(spark, 30)
    frames = MM.frame_sample(media, every_k=2).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    # media_id 2 is VID with 6 frames -> sampled 0,2,4
    assert sorted(by_media[2]) == [0, 2, 4]
    assert all(i % 2 == 0 for idxs in by_media.values() for i in idxs)


def test_column_letter():
    assert W.column_letter(1) == "A"
    assert W.column_letter(26) == "Z"
    assert W.column_letter(27) == "AA"
    assert W.column_letter(52) == "AZ"
    assert W.column_letter(703) == "AAA"


def test_formula_passthrough_text_and_addresses(spark):
    df = spark.createDataFrame(
        [("12%", "abc"), ("7", "x y")], ["Score", "Note"]
    )
    spec = parse_mapping(
        [
            ("ScoreOut", "src[Score]"),
            ("Calc", "formula:=src[Score]*2"),
            ("Chained", "formula:=self[Calc]+1"),
            ("Quoted", "formula:=CONCAT(src[Note])"),
        ],
        df.columns,
    )
    out = W.formula_passthrough_columns(df, spec).orderBy("_row").collect()
    # Row 1 (output row 2 in sheet terms): numeric-ish "12%" spliced bare,
    # non-numeric "abc" quoted, self[Calc] -> B2 (Calc is column 2).
    assert out[0]["Calc"] == "=12%*2"
    assert out[0]["Chained"] == "=B2+1"
    assert out[0]["Quoted"] == '=CONCAT("abc")'
    assert out[1]["Calc"] == "=7*2"
    assert out[1]["Chained"] == "=B3+1"
    assert out[1]["Quoted"] == '=CONCAT("x y")'


def test_formula_passthrough_forward_and_self_refs_stay_literal(spark):
    """The reference registers a column in outputRowRefs only after its own
    substitution (main.gs:99-114): self[...] naming the current column or a
    later one is NOT replaced — the text survives into the emitted formula."""
    df = spark.createDataFrame([("3",)], ["V"])
    spec = parse_mapping(
        [
            ("SelfRef", "formula:=self[SelfRef]+1"),
            ("Fwd", "formula:=self[Later]*2"),
            ("Later", "formula:=self[SelfRef]+self[Fwd]"),
        ],
        df.columns,
    )
    row = W.formula_passthrough_columns(df, spec).collect()[0]
    assert row["SelfRef"] == "=self[SelfRef]+1"      # self-reference: literal
    assert row["Fwd"] == "=self[Later]*2"            # forward ref: literal
    assert row["Later"] == "=A2+B2"                  # backward refs resolve


def test_xlsx_roundtrip_values_and_escaping(spark, tmp_path):
    """The stdlib OOXML codec must round-trip strings exactly (XML
    escaping, leading/trailing whitespace), numbers as shortest-repr
    text, '='-strings as live formula cells, and blanks as empty."""
    from spreadsheet_etl_engine_spark.sources.readers import read_excel

    df = spark.createDataFrame(
        [(1, 'a <&> "q"', 4032.68, "=A2+1", None),
         (2, "  padded  ", -0.5, "plain", "x")],
        "id long, name string, bal double, formula string, opt string",
    )
    path = str(tmp_path / "wb.xlsx")
    W.write_xlsx(df, path)
    back = read_excel(spark, path, fidelity=True)
    assert back.columns == ["id", "name", "bal", "formula", "opt"]
    rows = {r["id"]: r for r in back.collect()}
    assert rows["1"]["name"] == 'a <&> "q"'
    assert rows["1"]["bal"] == "4032.68"
    assert rows["1"]["formula"] == "=A2+1"      # formula cell reads back as text
    assert rows["1"]["opt"] == ""               # blank cell
    assert rows["2"]["name"] == "  padded  "    # whitespace preserved
    # Typed read: all-number columns come back typed, mixed stay string.
    typed = read_excel(spark, path)
    assert dict(typed.dtypes)["id"] == "bigint"
    assert dict(typed.dtypes)["bal"] == "double"
    assert dict(typed.dtypes)["name"] == "string"


def test_xlsx_sheet_selection_and_errors(spark, tmp_path):
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    path = str(tmp_path / "one.xlsx")
    xlsx_native.write_workbook(path, ["h"], [("v",)], sheet_name="Datos")
    header, rows, _ = xlsx_native.read_workbook(path, sheet_name="Datos")
    assert (header, rows) == (["h"], [["v"]])
    with pytest.raises(ValueError, match="no sheet named"):
        xlsx_native.read_workbook(path, sheet_name="Missing")


def test_csv_roundtrip(spark, tmp_path):
    from spreadsheet_etl_engine_spark.sources.readers import read_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["x", "y"])
    path = str(tmp_path / "csv_out")
    W.write_csv(df, path)
    back = read_csv(spark, path, fidelity=True)
    assert {(r["x"], r["y"]) for r in back.collect()} == {("1", "a"), ("2", "b")}
    assert dict(back.dtypes) == {"x": "string", "y": "string"}


def test_every_reader_survives_zero_row_source(spark, tmp_path):
    """Empty-slice discipline for EVERY reader (r8 verdict item 5): an
    upstream filter that matched nothing, a brand-new ingest dir, or a
    header-only workbook must read as a well-defined zero-row frame with
    the declared schema — never a columnless inference failure.  csv/
    json/orc take an explicit ``schema`` (the production practice at
    scale anyway: inference costs an extra pass); xlsx carries its
    header in the sheet."""
    from spreadsheet_etl_engine_spark.sources import xlsx_native
    from spreadsheet_etl_engine_spark.sources.readers import (
        read_csv, read_excel, read_json, read_orc,
    )

    ddl = "x int, y string"
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    path = str(empty)

    for fidelity in (False, True):
        for reader in (read_csv, read_json, read_orc):
            df = reader(spark, path, fidelity=fidelity, schema=ddl)
            assert df.columns == ["x", "y"], reader.__name__
            assert df.count() == 0, reader.__name__
            if fidelity:
                assert dict(df.dtypes) == {"x": "string", "y": "string"}

    # Header-only csv file (not just an empty dir): fidelity mode infers
    # columns from the header line without needing rows.
    hdr = tmp_path / "hdr_csv"
    hdr.mkdir()
    (hdr / "part.csv").write_text("x,y\n")
    df = read_csv(spark, str(hdr), fidelity=True)
    assert df.columns == ["x", "y"] and df.count() == 0

    # Header-only workbook.
    wb = str(tmp_path / "empty.xlsx")
    xlsx_native.write_workbook(wb, ["x", "y"], [])
    for fidelity in (False, True):
        df = read_excel(spark, wb, fidelity=fidelity)
        assert df.columns == ["x", "y"] and df.count() == 0


def test_fidelity_schema_read_is_lossless(spark, tmp_path):
    """fidelity=True + a TYPED schema must yield the raw cell text, not a
    parse-then-cast round trip (r9 review find: '007' came back '7' and
    an unparseable cell became NULL).  The typed schema contributes only
    its column names; the read itself is all-string."""
    from spreadsheet_etl_engine_spark.sources.readers import read_csv, read_json

    src = tmp_path / "csv"
    src.mkdir()
    (src / "part.csv").write_text("x,y\n007,a\n1.50,b\nN/A,c\n")
    df = read_csv(spark, str(src), fidelity=True, schema="x int, y string")
    assert dict(df.dtypes) == {"x": "string", "y": "string"}
    assert {r["x"] for r in df.collect()} == {"007", "1.50", "N/A"}
    # Typed read of the same file for contrast: lossy by design.
    typed = read_csv(spark, str(src), schema="x int, y string",
                     mode="PERMISSIVE")
    assert {r["x"] for r in typed.collect()} == {7, None}  # 1.50, N/A -> NULL

    jsrc = tmp_path / "json"
    jsrc.mkdir()
    (jsrc / "part.json").write_text('{"x": 1.50, "y": "a"}\n{"x": 2, "y": "b"}\n')
    jdf = read_json(spark, str(jsrc), fidelity=True, schema="x double, y string")
    assert dict(jdf.dtypes) == {"x": "string", "y": "string"}
    # Raw lexemes survive: "1.50" (not "1.5"), "2" (not "2.0").
    assert {r["x"] for r in jdf.collect()} == {"1.50", "2"}


def test_read_excel_rejects_garbage(spark, tmp_path):
    from spreadsheet_etl_engine_spark.sources.readers import read_excel

    # Corrupt/non-zip input must surface a clear error, not a silent
    # empty frame.
    fake = tmp_path / "wb.xlsx"
    fake.write_bytes(b"PK\x03\x04 not a real workbook")
    with pytest.raises(Exception):
        read_excel(spark, str(fake))


def test_fidelity_csv_pipeline_end_to_end(spark, tmp_path):
    """Spreadsheet-faithful path: CSV in, all-string processing, CSV out."""
    from spreadsheet_etl_engine_spark.plans.parser import parse_map_table
    from spreadsheet_etl_engine_spark.plans.runner import run_mapping
    from spreadsheet_etl_engine_spark.sources.readers import read_csv

    src_dir = str(tmp_path / "people_csv")
    spark.createDataFrame(
        [("Ana", "17", "85%"), ("Bob", "30", "7.5"), ("Cy", "abc", "0")],
        ["Name", "Age", "Score"],
    ).write.mode("overwrite").option("header", "true").csv(src_dir)

    df = read_csv(spark, src_dir, fidelity=True)
    out = run_mapping(
        df,
        parse_map_table(
            [["rule", "instruction"],
             ["_filter:adult", "eval: src[Age] >= 18"],
             ["Who", "src[Name]"],
             ["Pct", "src[Score]"]],
            df.columns,
        ),
        mode="fidelity",
    )
    rows = {r["Who"]: r["Pct"] for r in out.collect()}
    assert rows == {"Bob": "7.5"}  # "17" < 18, "abc" is NaN -> dropped
    assert dict(out.dtypes) == {"Who": "string", "Pct": "string"}


def test_extract_features_deterministic(spark):
    media = MM.synth_media(spark, 12)
    feats = {r["media_id"]: r["feature"] for r in MM.extract_features(media).collect()}
    assert len(feats) == 12
    assert all(len(v) == MM.FEATURE_DIM for v in feats.values())
    assert all(0.0 <= x <= 1.0 for v in feats.values() for x in v)
    again = {r["media_id"]: r["feature"] for r in MM.extract_features(media).collect()}
    assert feats == again


def test_resize_rewrites_image_headers_only(spark):
    media = MM.synth_media(spark, 9)
    resized = MM.resize_images(media, width=8, height=8)
    decoded = {r["media_id"]: r for r in MM.decode_media(resized).collect()}
    for mid, row in decoded.items():
        if row["kind"] == "image":
            assert (row["width"], row["height"]) == (8, 8)
        else:
            orig = {r["media_id"]: r for r in MM.decode_media(media).collect()}[mid]
            assert (row["width"], row["height"]) == (orig["width"], orig["height"])


def test_formula_passthrough_numbers_surviving_rows_only(spark):
    """A1 addresses count only rows that pass the filters (main.gs:69):
    with the first rows filtered out, the first output row is still row 2."""
    from spreadsheet_etl_engine_spark.plans.parser import parse_mapping

    df = spark.createDataFrame(
        [("1", "drop"), ("2", "drop"), ("30", "keep"), ("40", "keep")],
        ["Qty", "Tag"],
    )
    spec = parse_mapping(
        [
            ("_filter:f", "eval: src[Qty] >= 30"),
            ("Calc", "formula:=src[Qty]*2"),
            ("Chained", "formula:=self[Calc]+1"),
        ],
        df.columns,
    )
    out = {r["Calc"]: r["Chained"] for r in W.formula_passthrough_columns(df, spec).collect()}
    assert out == {"=30*2": "=A2+1", "=40*2": "=A3+1"}


def test_formula_passthrough_first_percent_only(spark):
    """Reference removes only the FIRST '%' before the isNaN check
    (String.replace with a string pattern, main.gs:92): '12%%' stays
    non-numeric and is quoted."""
    from spreadsheet_etl_engine_spark.plans.parser import parse_mapping

    df = spark.createDataFrame([("12%%",), ("12%",)], ["V"])
    spec = parse_mapping([("Out", "formula:=src[V]")], df.columns)
    got = sorted(r["Out"] for r in W.formula_passthrough_columns(df, spec).collect())
    assert got == ['="12%%"', "=12%"]


def test_xlsx_property_roundtrip():
    """Property: any workbook of printable strings and finite numbers
    round-trips exactly through the native codec (strings byte-identical
    after XML escaping, numbers via shortest-repr text)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spreadsheet_etl_engine_spark.sources import xlsx_native

    # \r is representable but XML parsers normalize CR->LF on read;
    # illegal control chars are rejected by the writer (tested below).
    cell_text = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",),
            blacklist_characters="\r" + "".join(
                chr(c) for c in [*range(0x00, 0x09), 0x0B, 0x0C,
                                 *range(0x0E, 0x20)]
            ),
        ),
        max_size=40,
    ).filter(lambda s: not s.startswith("="))
    cell = st.one_of(
        cell_text,
        st.integers(min_value=-10**15, max_value=10**15),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.none(),
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.tuples(cell, cell, cell), min_size=0, max_size=6))
    def check(rows):
        import os
        import tempfile

        fd, path = tempfile.mkstemp(suffix=".xlsx")
        os.close(fd)
        try:
            xlsx_native.write_workbook(path, ["a", "b", "c"], rows)
            header, back, flags = xlsx_native.read_workbook(path)
        finally:
            os.unlink(path)
        assert header == ["a", "b", "c"]
        assert len(back) == len(rows)
        for row, got, fl in zip(rows, back, flags):
            for v, g, f in zip(row, got, fl):
                if v is None:
                    assert g == ""
                elif isinstance(v, str):
                    assert g == v and f is False
                else:
                    assert f is True
                    assert float(g) == float(v)  # numeric round-trip exact

    check()


def test_xlsx_rejects_illegal_control_chars(tmp_path):
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    with pytest.raises(ValueError, match="control character"):
        xlsx_native.write_workbook(
            str(tmp_path / "bad.xlsx"), ["h"], [("a\x00b",)]
        )


def test_read_json_typed_and_fidelity(spark, tmp_path):
    path = str(tmp_path / "in.json")
    with open(path, "w") as f:
        f.write('{"k": 1, "name": "a", "v": 1.5}\n{"k": 2, "name": "b", "v": null}\n')
    typed = __import__("spreadsheet_etl_engine_spark.sources.readers",
                       fromlist=["read_json"]).read_json(spark, path)
    assert dict(typed.dtypes) == {"k": "bigint", "name": "string", "v": "double"}
    fid = __import__("spreadsheet_etl_engine_spark.sources.readers",
                     fromlist=["read_json"]).read_json(spark, path, fidelity=True)
    assert dict(fid.dtypes) == {"k": "string", "name": "string", "v": "string"}
    rows = {r["k"]: (r["name"], r["v"]) for r in fid.collect()}
    assert rows == {"1": ("a", "1.5"), "2": ("b", None)}


def test_xlsx_sheet_name_with_quote_roundtrips(tmp_path):
    from spreadsheet_etl_engine_spark.sources import xlsx_native

    path = str(tmp_path / "q.xlsx")
    name = 'My "Quoted" Sheet'
    xlsx_native.write_workbook(path, ["h"], [("v",)], sheet_name=name)
    assert xlsx_native.sheet_names(path) == [name]
    header, rows, _ = xlsx_native.read_workbook(path, sheet_name=name)
    assert header == ["h"] and rows == [["v"]]


def test_xlsx_rejects_invalid_sheet_names(tmp_path):
    import pytest

    from spreadsheet_etl_engine_spark.sources import xlsx_native

    for bad in ["", "a" * 32, "x[y]", "a:b", "a/b", "a\\b", "a*b", "a?b"]:
        with pytest.raises(ValueError, match="sheet name"):
            xlsx_native.write_workbook(
                str(tmp_path / "bad.xlsx"), ["h"], [("v",)], sheet_name=bad
            )


def test_xlsx_rejects_non_finite_numbers(tmp_path):
    import pytest

    from spreadsheet_etl_engine_spark.sources import xlsx_native

    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            xlsx_native.write_workbook(
                str(tmp_path / "bad.xlsx"), ["h"], [(bad,)]
            )


def test_read_workbook_honors_row_and_cell_refs(tmp_path):
    """External writers may omit empty rows, emit rows out of order, and
    emit cells whose refs are out of order or duplicated — all legal
    OOXML; the grid must honor the r attributes, not element order."""
    import zipfile

    from spreadsheet_etl_engine_spark.sources import xlsx_native

    tmpl_path = str(tmp_path / "tmpl.xlsx")
    xlsx_native.write_workbook(tmpl_path, ["a", "b"], [("x", "y")])
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{xlsx_native.SHEET_NS}"><sheetData>'
        # header row, then row 3 BEFORE row 4, with row 2 omitted entirely;
        # row 4's cells arrive out of order and B4 is duplicated (last wins).
        '<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>b</t></is></c></row>'
        '<row r="4"><c r="B4"><v>9</v></c><c r="A4"><v>7</v></c>'
        '<c r="B4"><v>8</v></c></row>'
        '<row r="3"><c r="A3"><v>1</v></c></row>'
        "</sheetData></worksheet>"
    )
    path = str(tmp_path / "ext.xlsx")
    with zipfile.ZipFile(tmpl_path) as zin, zipfile.ZipFile(path, "w") as zout:
        for item in zin.namelist():
            data = sheet.encode() if item == "xl/worksheets/sheet1.xml" else zin.read(item)
            zout.writestr(item, data)
    header, rows, flags = xlsx_native.read_workbook(path)
    assert header == ["a", "b"]
    assert rows == [["", ""], ["1", ""], ["7", "8"]]
    assert flags[1][0] is True and flags[0][0] is False


def test_read_write_orc_roundtrip(spark, tmp_path):
    from spreadsheet_etl_engine_spark.sources.readers import read_orc
    from spreadsheet_etl_engine_spark.sources.writers import write_orc

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "k long, name string, v double"
    )
    path = str(tmp_path / "t_orc")
    write_orc(df, path)
    typed = read_orc(spark, path)
    assert dict(typed.dtypes) == {"k": "bigint", "name": "string", "v": "double"}
    assert {tuple(r) for r in typed.collect()} == {(1, "a", 1.5), (2, "b", None)}
    fid = read_orc(spark, path, fidelity=True)
    assert dict(fid.dtypes) == {"k": "string", "name": "string", "v": "string"}


def test_zorder_clustering_improves_multi_column_pruning(spark, tmp_path):
    """write_zordered must (a) preserve the data exactly and (b) make
    parquet row-group min/max stats prune a two-column box predicate that
    a single-column sort cannot — measured on the real file stats, not
    asserted from theory."""
    import glob

    import pyarrow.parquet as pq

    n = 120_000
    df = spark.range(n).selectExpr(
        "id",
        "cast(pmod(hash(id), 10000) as double) AS x",
        "cast(pmod(hash(id + 7), 10000) as double) AS y",
    )
    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zord")
    # Baseline: single-column sort (helps x, does nothing for y).
    df.repartitionByRange(16, "x").sortWithinPartitions("x") \
        .write.mode("overwrite").parquet(plain)
    W.write_zordered(df, zord, zorder_by=["x", "y"], n_files=16)

    # Round trip: same rows, helper key not persisted.
    back = spark.read.parquet(zord)
    assert back.columns == ["id", "x", "y"]
    assert back.count() == n
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0

    def groups_matching(path, x_rng, y_rng):
        hit = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                total += 1
                sx = md.row_group(g).column(cols["x"]).statistics
                sy = md.row_group(g).column(cols["y"]).statistics
                if (sx.min <= x_rng[1] and sx.max >= x_rng[0]
                        and sy.min <= y_rng[1] and sy.max >= y_rng[0]):
                    hit += 1
        return hit, total

    # Slices selecting ~1/8 of one dimension, unconstrained in the other
    # — the workload shape where a single-column sort helps exactly one
    # column and Z-order helps every listed column.
    full = (-1.0, 10001.0)
    xs = (1000.0, 2250.0)
    ys = (4000.0, 5250.0)
    hit_plain_y, total_plain = groups_matching(plain, full, ys)
    hit_z_y, total_z = groups_matching(zord, full, ys)
    hit_z_x, _ = groups_matching(zord, xs, full)
    hit_z_box, _ = groups_matching(zord, xs, ys)
    assert total_plain >= 16 and total_z >= 16
    # x-sorted layout cannot prune a y predicate: every group survives.
    assert hit_plain_y == total_plain
    # Z-order gives each of the k dims P^(1/k) resolution, so a 1/8
    # slice of either dimension should keep at most ~half the groups,
    # and the box multiplies both cuts.  repartitionByRange samples its
    # boundaries with a nondeterministic seed, so hits jitter run to run
    # (measured over 6 writes: y 8-9/16, x 6-8/16, box 2-4/16);
    # thresholds sit one-to-two groups above the observed maxima.
    assert hit_z_y <= 11 * total_z // 16, f"y-slice: {hit_z_y}/{total_z}"
    assert hit_z_x <= 11 * total_z // 16, f"x-slice: {hit_z_x}/{total_z}"
    assert hit_z_box <= 6 * total_z // 16, f"box: {hit_z_box}/{total_z}" 

    # Correctness of the skipped groups: the box rows all survive a scan.
    pred = (f"x between {xs[0]} and {xs[1]} "
            f"and y between {ys[0]} and {ys[1]}")
    assert back.filter(pred).count() == df.filter(pred).count() > 0


def test_zorder_key_handles_dates_and_rejects_strings(spark):
    """Date/timestamp columns quantize over epoch seconds (the common
    Z-order dimension); strings fail loud instead of silently
    contributing all-zero bits."""
    import pytest as _pytest

    df = spark.range(100).selectExpr(
        "id",
        "date_add(date'2024-01-01', cast(id as int)) AS d",
        "cast(id as double) AS x",
        "cast(id as string) AS s",
    )
    key_col = W.zorder_key(df, ["d", "x"], bits=4)
    keys = [r[0] for r in df.select(key_col).collect()]
    assert len(set(keys)) > 1          # dates actually contribute bits
    assert all(k is not None for k in keys)
    with _pytest.raises(ValueError, match="zorder_key column"):
        W.zorder_key(df, ["s", "x"])


def test_xlsx_foreign_writer_shapes(tmp_path):
    """Cells Excel and streaming writers actually emit, which this
    codec's own output never contains: formula cells WITH a cached <v>
    (must read back as formula text, not the stale cache), cells with no
    r= attribute (implicitly previous-cell-plus-one), and styled-blank
    number cells (must not crash numeric revival)."""
    import zipfile

    from spreadsheet_etl_engine_spark.sources import xlsx_native as XN

    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{XN.SHEET_NS}"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>H1</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>H2</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>H3</t></is></c>'
        '<c r="D1" t="inlineStr"><is><t>H4</t></is></c></row>'
        # formula with cached value; sparse row with an r-less cell
        '<row r="2"><c r="A2"><f>SUM(B2:C2)</f><v>42</v></c>'
        '<c r="C2"><v>7</v></c><c><v>9</v></c></row>'
        # styled blank number cell
        '<row r="3"><c r="A3" s="1"/><c r="B3"><v>5</v></c></row>'
        "</sheetData></worksheet>"
    )
    path = str(tmp_path / "foreign.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", XN._content_types(1))
        zf.writestr("_rels/.rels", XN._ROOT_RELS)
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{XN.SHEET_NS}" xmlns:r="{XN.REL_NS}">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>")
        zf.writestr("xl/_rels/workbook.xml.rels", XN._workbook_rels(1))
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    header, rows, flags = XN.read_workbook(path, sheet_name="S")
    assert header == ["H1", "H2", "H3", "H4"]
    assert rows[0][0] == "=SUM(B2:C2)"      # formula text, not cached 42
    assert rows[0][2] == "7"
    assert rows[0][3] == "9"                # r-less cell lands in D, not B
    assert rows[0][1] == ""
    assert (rows[1][0], flags[1][0]) == ("", True)  # styled blank numeric


def test_xlsx_write_failure_does_not_truncate_target(tmp_path):
    """Sheet XML renders (and validates) BEFORE the zip opens, so a
    cell-level error cannot destroy the target file — fatal for
    run_workbook's in-place out_path=in_path shape."""
    import pytest as _pytest

    from spreadsheet_etl_engine_spark.sources import xlsx_native as XN

    path = str(tmp_path / "keep.xlsx")
    XN.write_workbook(path, ["A"], [(1,)])
    before = open(path, "rb").read()
    with _pytest.raises(ValueError):
        XN.write_workbook_multi(
            path, [("ok", ["A"], [(1,)]), ("bad", ["A"], [(float("inf"),)])])
    assert open(path, "rb").read() == before  # original intact


def test_csv_hostile_roundtrip(spark, tmp_path):
    """RFC4180 hostile content through write_csv -> read_csv(fidelity):
    embedded separators, quotes, LF, CRLF, padding and tabs must come
    back byte-identical with NO fragment rows (r9 family-10 find: the
    default reader split quoted newlines into garbage rows, and the
    writer stripped padding).  Pinned format limitation: NULL and ''
    both serialize as an empty field, so BOTH read back as NULL — CSV
    cannot carry the distinction (use parquet/ORC/JSON when it
    matters)."""
    from spreadsheet_etl_engine_spark.sources.readers import read_csv
    from spreadsheet_etl_engine_spark.sources.writers import write_csv

    hostile = [
        (1, "comma, inc"),
        (2, 'quote "hi" end'),
        (3, "line1\nline2"),
        (4, "crlf\r\nend"),
        (5, "  padded  "),
        (8, "back\\slash"),
        (9, "tab\there"),
        (10, "ends in \\"),
        (11, 'escaped \\"q\\"'),
    ]
    df = spark.createDataFrame(
        hostile + [(6, ""), (7, None)], "k int, v string"
    )
    path = str(tmp_path / "hostile_csv")
    write_csv(df, path)
    back = read_csv(spark, path, fidelity=True)
    assert back.count() == 11, "quoted newline split records into fragments"
    got = {r["k"]: r["v"] for r in back.collect()}
    for k, v in hostile:
        assert got[str(k)] == v, (k, v, got[str(k)])
    assert got["6"] is None and got["7"] is None  # the documented conflation
    # Typed mode stays on the splittable single-line path by default;
    # a multiline feed opts in explicitly.
    typed = read_csv(spark, path, schema="k int, v string", multiline=True,
                     mode="PERMISSIVE")
    assert typed.count() == 11

    # A spreadsheet export, written by hand: RFC 4180 doubles a quote
    # inside a quoted field, and a backslash is an ordinary character.
    exported = tmp_path / "exported.csv"
    exported.write_text(
        'k,v\n1,"say ""hi"""\n2,C:\\temp\n3,"dir\\"\n4,"a\\""b"\n')
    got = {r["k"]: r["v"] for r in read_csv(spark, str(exported), fidelity=True).collect()}
    assert got == {"1": 'say "hi"', "2": "C:\\temp", "3": "dir\\", "4": 'a\\"b'}


def test_palette_png_roundtrip_all_filters_and_trns():
    """Color-type-3 round trip (r11 verdict Next 3): encode_png_palette
    -> decode_png must reproduce palette[indexes] exactly for every
    scanline filter, expand tRNS alpha (short vector = remaining
    entries opaque), and match the level-0 closed size formula the
    generative oracle recomputes."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    rng = np.random.default_rng(12)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (6, 9), dtype=np.uint8)
    for ft in range(5):
        for lvl in (0, 6):
            got = MC.decode_png(MC.encode_png_palette(
                idx, pal, level=lvl, filter_type=ft))
            assert got.shape == (6, 9, 3), (ft, lvl)
            assert np.array_equal(got, pal[idx]), (ft, lvl)

    # tRNS: 3 explicit alphas, entries 3..15 default to opaque 255.
    trns = np.array([0, 128, 255], dtype=np.uint8)
    got = MC.decode_png(MC.encode_png_palette(idx, pal, trns=trns, level=0))
    assert got.shape == (6, 9, 4)
    alpha = np.full(16, 255, np.uint8)
    alpha[:3] = trns
    assert np.array_equal(got[..., 3], alpha[idx])
    assert np.array_equal(got[..., :3], pal[idx])

    # Closed level-0 size: 80 fixed + 3P palette + h*(1+w) scanlines.
    h, w, P = idx.shape[0], idx.shape[1], 16
    assert len(MC.encode_png_palette(idx, pal, level=0)) == \
        80 + 3 * P + h * (1 + w)
    # probe agrees with decode on dims and acceptance.
    assert MC.probe_png_dims(MC.encode_png_palette(idx, pal)) == (w, h)


def test_palette_png_fail_loud_gates():
    """Out-of-range indexes, malformed PLTE and oversized tRNS raise
    instead of mis-decoding (the silent wrong-pixels class)."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    pal = (np.arange(24) % 256).astype(np.uint8).reshape(8, 3)
    idx = np.full((3, 4), 7, dtype=np.uint8)
    with pytest.raises(ValueError, match="out of range"):
        MC.encode_png_palette(idx, pal[:4])
    with pytest.raises(ValueError, match="1..256|entries"):
        MC.encode_png_palette(idx, pal[:0])
    with pytest.raises(ValueError, match="trns"):
        MC.encode_png_palette(idx, pal,
                              trns=np.zeros(9, dtype=np.uint8))
    good = MC.encode_png_palette(idx, pal)

    # Decoder-side: a file whose pixel indexes exceed its PLTE. Craft by
    # splicing the 4-entry palette file's PLTE chunk in place of the
    # 8-entry one (chunk layout: 8 sig + 25 IHDR, then PLTE).
    small = MC.encode_png_palette(np.zeros((3, 4), dtype=np.uint8), pal[:4])
    plte_small = small[33:33 + 12 + 12]          # len+type+12 bytes+crc
    spliced = good[:33] + plte_small + good[33 + 12 + 24:]
    with pytest.raises(ValueError, match="out of range"):
        MC.decode_png(spliced)

    # PLTE on a grayscale file is spec-forbidden — gate, don't ignore.
    gray = MC.encode_png(np.zeros((3, 4), dtype=np.uint8))
    g = gray[:33] + plte_small + gray[33:]
    with pytest.raises(ValueError, match="forbidden"):
        MC.decode_png(g)

    # Palette file with its PLTE chunk stripped entirely.
    stripped = good[:33] + good[33 + 12 + 24:]
    with pytest.raises(ValueError, match="PLTE"):
        MC.decode_png(stripped)


def test_png_full_depth_interlace_matrix_roundtrip():
    """r12: the full static PNG spec surface round-trips — every legal
    color-type/bit-depth combination x all five filters x both
    interlace methods, at sizes that include empty Adam7 passes
    (w or h < 5 leaves passes with no scanlines at all)."""
    import itertools

    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    rng = np.random.default_rng(1216)
    sizes = ((1, 1), (2, 3), (4, 4), (6, 10), (13, 23))
    for color, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for depth, ft, il in itertools.product(
                (8, 16), range(5), (False, True)):
            for h, w in sizes:
                arr = rng.integers(0, 1 << depth, (h, w, ch)).astype(
                    np.uint16 if depth == 16 else np.uint8)
                data = MC.encode_png(arr, filter_type=ft, interlace=il)
                got = MC.decode_png(data)
                assert got.dtype == arr.dtype, (color, depth, ft, il)
                assert np.array_equal(got, arr), (color, depth, ft, il, h, w)
                assert MC.probe_png_dims(data) == (w, h)
    # Palette at every legal depth, with and without tRNS.
    for depth, ft, il in itertools.product((1, 2, 4, 8), range(5),
                                           (False, True)):
        npal = 1 << depth
        pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
        for h, w in sizes:
            idx = rng.integers(0, npal, (h, w)).astype(np.uint8)
            data = MC.encode_png_palette(idx, pal, depth=depth,
                                         filter_type=ft, interlace=il)
            assert np.array_equal(MC.decode_png(data), pal[idx]), \
                (depth, ft, il, h, w)
            trns = rng.integers(0, 256, (max(1, npal // 2),),
                                dtype=np.uint8)
            data = MC.encode_png_palette(idx, pal, depth=depth, trns=trns,
                                         filter_type=ft, interlace=il)
            alpha = np.full(npal, 255, np.uint8)
            alpha[:len(trns)] = trns
            got = MC.decode_png(data)
            assert np.array_equal(got[..., :3], pal[idx])
            assert np.array_equal(got[..., 3], alpha[idx])


def test_png_sub_byte_gray_scales_by_bit_replication():
    """1/2/4-bit grayscale samples scale to 8-bit by bit replication
    (0..2^d-1 -> 0..255 via 255/85/17), per spec §12.5 — NOT by a
    left-shift, which would map max gray to 128/192/240.  Files are
    hand-built through the codec's own scanline helpers (sub-byte
    gray ENCODE has no public path — real corpora never need it)."""
    import struct
    import zlib

    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    rng = np.random.default_rng(7)
    for depth, scale in ((1, 255), (2, 85), (4, 17)):
        for il in (False, True):
            for h, w in ((1, 1), (3, 7), (6, 10), (9, 17)):
                raw = rng.integers(0, 1 << depth, (h, w, 1)).astype(np.uint8)
                scan = MC._png_scanlines(raw, depth, 1, il)
                ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0,
                                   1 if il else 0)
                data = (MC._PNG_SIG + MC._png_chunk(b"IHDR", ihdr)
                        + MC._png_chunk(b"IDAT", zlib.compress(scan, 6))
                        + MC._png_chunk(b"IEND", b""))
                got = MC.decode_png(data)
                assert got.dtype == np.uint8
                want = (raw.astype(np.uint16) * scale).astype(np.uint8)
                assert np.array_equal(got, want), (depth, il, h, w)
                assert MC.probe_png_dims(data) == (w, h)


def test_png_16bit_feature_scale_matches_8bit_twin(spark):
    """The dtype-aware feature normalization (r12): an 8-bit image and
    its exact 16-bit upcast (x * 257 maps 0..255 onto 0..65535
    proportionally) must produce the same embedding through
    extract_features — a /255 constant on uint16 samples would blow the
    means 257x."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    img8 = (np.arange(6 * 10) % 256).astype(np.uint8).reshape(6, 10)
    img16 = img8.astype(np.uint16) * 257
    media = spark.createDataFrame(
        [(1, "image", MC.encode_png(img8), 0),
         (2, "image", MC.encode_png(img16), 0),
         (3, "image", MC.encode_png(img16, interlace=True), 0)],
        MM.MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    assert len(feats) == 3
    assert np.allclose(feats[1], feats[2], atol=1e-6)
    assert np.allclose(feats[2], feats[3], atol=1e-6)  # interlace-neutral
    # Resize keeps 16-bit gray 16-bit: decode dtype survives the trip.
    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=4, height=2).collect()}
    out = MC.decode_png(resized[2])
    assert out.dtype == np.uint16 and out.shape == (2, 4, 1)
    assert np.array_equal(out, MC.resize_nearest(img16[:, :, None], 4, 2))


def test_png_adam7_fail_loud_gates():
    """Interlaced-stream accounting is exact: truncated or oversized
    pass data raises instead of mis-scattering; unknown interlace
    methods and illegal depth/color combinations are rejected by
    name in both the decoder and the O(header) probe."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    img = (np.arange(5 * 9 * 3) % 256).astype(np.uint8).reshape(5, 9, 3)
    good = MC.encode_png(img, level=0, interlace=True)

    # Truncate the IDAT payload by one stored byte: rebuild the file
    # with a shorter zlib stream (can't just cut bytes - zlib would
    # error first, which is also a fail-loud path, but the accounting
    # gate is the one under test here).
    import struct
    import zlib
    scan = MC._png_scanlines(img, 8, 0, True)
    ihdr = struct.pack(">IIBBBBB", 9, 5, 8, 2, 0, 0, 1)
    short = (MC._PNG_SIG + MC._png_chunk(b"IHDR", ihdr)
             + MC._png_chunk(b"IDAT", zlib.compress(scan[:-1], 0))
             + MC._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size mismatch"):
        MC.decode_png(short)
    over = (MC._PNG_SIG + MC._png_chunk(b"IHDR", ihdr)
            + MC._png_chunk(b"IDAT", zlib.compress(scan + b"\x00", 0))
            + MC._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size mismatch"):
        MC.decode_png(over)

    # Illegal depth/color combinations rejected by both entry points.
    bad = bytearray(good)
    bad[24] = 4  # depth 4 with color type 2 (RGB) - spec-illegal
    with pytest.raises(ValueError, match="illegal PNG depth"):
        MC.decode_png(bytes(bad))
    with pytest.raises(ValueError, match="illegal PNG depth"):
        MC.probe_png_dims(bytes(bad))

    # Palette wider than the depth can address (decoder-side guard):
    # a depth-1 file spliced onto a 4-entry PLTE.
    pal = (np.arange(12) % 256).astype(np.uint8).reshape(4, 3)
    idx = np.zeros((3, 4), dtype=np.uint8)
    d1 = MC.encode_png_palette(idx, pal[:2], depth=1)
    d4 = MC.encode_png_palette(idx, pal, depth=4)
    plte4 = d4[33:33 + 12 + 12]  # 4-entry PLTE chunk (12 overhead + 12)
    spliced = d1[:33] + plte4 + d1[33 + 12 + 6:]
    with pytest.raises(ValueError, match="more than depth"):
        MC.decode_png(spliced)

    # Encoder-side palette/depth gates.
    with pytest.raises(ValueError, match="illegal palette PNG depth"):
        MC.encode_png_palette(idx, pal, depth=16)
    with pytest.raises(ValueError, match="entries at depth"):
        MC.encode_png_palette(idx, pal, depth=1)


def test_synth_media_new_containers_spark_pipeline(spark):
    """The real-container fixture (r12 PNG surface + r13 JPEG/GIF/TIFF/
    WAV-format rows + r15 AVI rows) flows through decode -> resize ->
    feature-extract on the Arrow path: true dims from the O(header)
    probes, every image AND every real video container (GIF/TIFF/AVI)
    payload changed by the 4x2 resize with its frame/page count
    preserved, audio + fake-video rows byte-identical, every feature
    vector 8-wide with the exact w/4096, h/4096 slots on the resized
    rows."""
    import numpy as np

    media = MM.synth_media(spark, 96, real=True)
    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert len(dec) == 96
    for i, row in dec.items():
        if row["kind"] == "image":
            assert (row["width"], row["height"]) == (8 + i % 16, 6 + i % 8)
        elif row["kind"] == "video" and (i // 3) % 5 > 0:
            # r13: GIF (vc=1) / multi-page TIFF (vc=2) video rows carry
            # real probe dims and REAL frame/page counts; r15 widened
            # the cycle to %5 with AVI-DIB (3) and AVI-MJPEG (4).
            assert (row["width"], row["height"]) == (8 + i % 16, 6 + i % 8)
            want = (2 + i % 3) if (i // 3) % 5 == 2 else (4 + i % 8)
            assert row["n_frames"] == want, i
    resized = MM.resize_images(media, width=4, height=2)
    rdec = {r["media_id"]: r for r in MM.decode_media(resized).collect()}
    for i, row in rdec.items():
        if row["kind"] == "image" or (
                row["kind"] == "video" and (i // 3) % 5 > 0):
            assert (row["width"], row["height"]) == (4, 2), i
            assert row["payload_hash"] != dec[i]["payload_hash"], i
            assert row["n_frames"] == dec[i]["n_frames"], i
        else:
            assert row["payload_hash"] == dec[i]["payload_hash"], i
    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(resized).collect()}
    assert len(feats) == 96
    for i, v in feats.items():
        assert len(v) == MM.FEATURE_DIM
        if dec[i]["kind"] == "image" or (
                dec[i]["kind"] == "video" and (i // 3) % 5 > 0):
            assert v[6] == np.float32(4 / 4096.0) and \
                v[7] == np.float32(2 / 4096.0), i


def test_resize_solid_color_gif(spark):
    """r13: an animation that resizes to a SINGLE unique color must
    still re-encode (GIF's minimum LZW code size needs a 2-entry
    palette — resize_images pads with an unreferenced duplicate
    instead of silently passing the row through unchanged)."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import gif_codec as GC

    pal = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)
    frames = np.zeros((3, 6, 9), dtype=np.uint8)         # all index 0
    media = spark.createDataFrame(
        [(1, "video", GC.encode_gif(frames, pal), 0)], MM.MEDIA_SCHEMA)
    out = MM.resize_images(media, width=4, height=2).collect()[0]
    got = GC.decode_gif(bytes(out["data"]))
    assert got.shape == (3, 2, 4, 3)
    assert np.array_equal(got.reshape(-1, 3),
                          np.tile(pal[0], (3 * 2 * 4, 1)))


def test_gif_codec_roundtrip_matrix():
    """r12: GIF87a/89a round trips — full LZW (growing widths, 12-bit
    cap with re-clear, the cScSc case), interlace, transparency
    composition, and the closed probe/frame-count kernels."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import gif_codec as GC

    rng = np.random.default_rng(1218)
    for n, h, w, npal in [(1, 1, 1, 2), (3, 7, 9, 16), (5, 13, 23, 256),
                          (2, 8, 8, 4)]:
        pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
        frames = rng.integers(0, npal, (n, h, w)).astype(np.uint8)
        for il in (False, True):
            data = GC.encode_gif(frames, pal, interlace=il)
            assert np.array_equal(GC.decode_gif(data), pal[frames]), (n, il)
            assert GC.probe_gif_dims(data) == (w, h)
            assert GC.count_gif_frames(data) == n

    # LZW table overflow: >4096 dictionary entries forces the re-clear.
    big = np.concatenate([
        np.zeros(5000, np.uint8),
        rng.integers(0, 256, 30000).astype(np.uint8),
        np.arange(256, dtype=np.uint8).repeat(20)])
    side = int(np.ceil(np.sqrt(big.size)))
    arr = np.zeros(side * side, np.uint8)
    arr[:big.size] = big
    frames = arr.reshape(1, side, side)
    pal = (np.arange(768) % 256).astype(np.uint8).reshape(256, 3)
    assert np.array_equal(GC.decode_gif(GC.encode_gif(frames, pal))[0],
                          pal[frames[0]])

    # Transparency: second frame composites over the first.
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    f0 = np.full((6, 10), 3, np.uint8)
    f1 = np.zeros((6, 10), np.uint8)
    f1[2:4, 3:6] = 5
    got = GC.decode_gif(GC.encode_gif(np.stack([f0, f1]), pal,
                                      transparent=0, delays_cs=[10, 20]))
    want1 = pal[f0].copy()
    want1[2:4, 3:6] = pal[5]
    assert np.array_equal(got[0], pal[f0])
    assert np.array_equal(got[1], want1)

    # Fail-loud gates.
    good = GC.encode_gif(np.zeros((1, 3, 3), np.uint8), pal[:2])
    with pytest.raises(ValueError, match="not a GIF"):
        GC.decode_gif(b"JIF89a" + good[6:])
    with pytest.raises(ValueError, match="truncated"):
        GC.decode_gif(good[:-4])
    with pytest.raises(ValueError, match="out of range"):
        GC.encode_gif(np.full((1, 2, 2), 5, np.uint8), pal[:4])
    with pytest.raises(ValueError, match="2..256"):
        GC.encode_gif(np.zeros((1, 2, 2), np.uint8), pal[:1])


def test_gif_disposal_and_local_palettes():
    """Disposal 2 (restore-to-background) and 3 (restore-previous)
    composite like a viewer; per-frame local color tables override the
    global one; GIF87a headers decode."""
    import struct

    import numpy as np

    from spreadsheet_etl_engine_spark.functions import gif_codec as GC

    pal4 = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]],
                    np.uint8)

    def frame(idx, left, top, disposal):
        fh, fw = idx.shape
        b = bytes([0x21, 0xF9, 4, disposal << 2, 0, 0, 0, 0])
        b += bytes([0x2C]) + struct.pack("<HHHHB", left, top, fw, fh, 0)
        return b + bytes([2]) + GC._sub_blocks(
            GC._lzw_encode(2, idx.reshape(-1)))

    head = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x81, 3, 0) + pal4.tobytes()
    f0 = np.full((4, 4), 0, np.uint8)
    stream = (head + frame(f0, 0, 0, 1)
              + frame(np.full((2, 2), 1, np.uint8), 1, 1, 2)
              + frame(np.full((2, 2), 2, np.uint8), 0, 0, 3)
              + frame(np.full((1, 1), 1, np.uint8), 3, 3, 0) + b"\x3B")
    got = GC.decode_gif(stream)
    assert got.shape == (4, 4, 4, 3)
    w1 = pal4[f0].copy()
    w1[1:3, 1:3] = pal4[1]
    assert np.array_equal(got[1], w1)
    w2 = pal4[f0].copy()
    w2[1:3, 1:3] = pal4[3]     # disposal 2 restored to background (idx 3)
    w2[0:2, 0:2] = pal4[2]
    assert np.array_equal(got[2], w2)
    w3 = pal4[f0].copy()
    w3[1:3, 1:3] = pal4[3]     # disposal 3 undid frame 2 entirely
    w3[3, 3] = pal4[1]
    assert np.array_equal(got[3], w3)

    lpal = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    img = (bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, 4, 4, 0x80)
           + lpal.tobytes() + bytes([2])
           + GC._sub_blocks(GC._lzw_encode(2, np.ones(16, np.uint8))))
    s87 = b"GIF87a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + img + b"\x3B"
    assert np.array_equal(GC.decode_gif(s87)[0],
                          np.broadcast_to(lpal[1], (4, 4, 3)))


def test_gif_video_through_spark_pipeline(spark):
    """Animated GIF makes the video kind REAL end-to-end: decode_media
    reports true dims + frame counts without LZW decode, frame_sample
    plans over real counts, decode_sampled_frames emits the actual
    kept frames as lossless PNG, resize_images resizes every frame
    exactly (unique-color re-indexing, no quantization), and
    extract_features embeds the first frame."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import gif_codec as GC
    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    frames5 = rng.integers(0, 16, (5, 6, 10)).astype(np.uint8)
    frames2 = rng.integers(0, 16, (2, 8, 12)).astype(np.uint8)
    rows = [
        (1, "video", GC.encode_gif(frames5, pal), 0),
        (2, "video", GC.encode_gif(frames2, pal, interlace=True), 0),
        (3, "video", b"VID:6x64x48:ppp", 0),        # fake: plan-only
        (4, "video", b"GIF89a\x00\x01", 0),         # corrupt: zero rows
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)

    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert (dec[1]["width"], dec[1]["height"], dec[1]["n_frames"]) == (10, 6, 5)
    assert (dec[2]["width"], dec[2]["height"], dec[2]["n_frames"]) == (12, 8, 2)
    assert dec[3]["n_frames"] == 6
    assert (dec[4]["width"], dec[4]["height"], dec[4]["n_frames"]) == (0, 0, 0)

    # Sampled-frame decode: every_k=2 keeps 0,2,4 / 0 / (fake+corrupt: none).
    got = MM.decode_sampled_frames(media, every_k=2).collect()
    by_media = {}
    for r in got:
        by_media.setdefault(r["media_id"], {})[r["frame_idx"]] = r
    assert sorted(by_media[1]) == [0, 2, 4]
    assert sorted(by_media[2]) == [0]
    assert 3 not in by_media and 4 not in by_media
    # The emitted PNG is the exact composited frame.
    truth = GC.decode_gif(bytes(rows[0][2]))
    for i in (0, 2, 4):
        assert np.array_equal(
            MC.decode_png(bytes(by_media[1][i]["frame_png"])), truth[i])
    assert (by_media[1][0]["width"], by_media[1][0]["height"]) == (10, 6)

    # Resize: every frame lands at 5x3, losslessly re-indexed.
    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=5, height=3).collect()}
    small = GC.decode_gif(resized[1])
    assert small.shape == (5, 3, 5, 3)
    for i in range(5):
        assert np.array_equal(small[i], MC.resize_nearest(truth[i], 5, 3))
    assert resized[3] == bytes(rows[2][2])  # fake video untouched
    assert resized[4] == bytes(rows[3][2])  # corrupt untouched

    # Features: first-frame embedding, exact per-channel means.
    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    f0 = truth[0].astype(np.float32) / 255.0
    assert np.allclose(feats[1][:3], f0.mean(axis=(0, 1)), atol=1e-5)
    assert len(feats[4]) == MM.FEATURE_DIM   # md5 fallback


def test_wav_all_sample_formats(spark):
    """r12: every uncompressed WAV sample format round-trips and
    normalizes to the same embedding — PCM8 (unsigned), PCM16, PCM24
    (left-justified int32), PCM32, IEEE float32/float64.  The same
    sine wave at every width must produce ~identical features, which
    pins the per-dtype full-scale normalization; compressed formats
    (ADPCM etc.) reject by name."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    t = np.arange(400)
    wave = np.sin(t * 0.1) * 0.5                      # [-0.5, 0.5]
    variants = {
        1: MC.encode_wav((wave * 127 + 128).astype(np.uint8), 16000),
        2: MC.encode_wav((wave * 32767).astype(np.int16), 16000),
        3: MC.encode_wav((wave * (2**31 - 256)).astype(np.int64)
                         .astype(np.int32), 16000, bits=24),
        4: MC.encode_wav((wave * (2**31 - 256)).astype(np.int64)
                         .astype(np.int32), 16000),
        5: MC.encode_wav(wave.astype(np.float32), 16000),
        6: MC.encode_wav(wave.astype(np.float64), 16000),
    }
    for data in variants.values():
        arr, rate = MC.decode_wav(data)
        assert arr.shape == (400, 1) and rate == 16000
        assert MC.sniff(data) == "wav"

    rows = [(mid, "audio", data, 0) for mid, data in variants.items()]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert all((dec[m]["width"], dec[m]["height"]) == (400, 1)
               for m in variants)
    feats = {r["media_id"]: np.array(r["feature"])
             for r in MM.extract_features(media).collect()}
    # Same waveform at every width: features agree to quantization
    # error (PCM8 is the coarsest at ~1/256 full scale).
    for m in (2, 3, 4, 5, 6):
        assert np.allclose(feats[m][:6], feats[5][:6], atol=1e-3), m
    # uint8 cast truncates toward zero, so PCM8 carries up to a full
    # 1/128-step bias on the mean — the tolerance is 1.5 steps.
    assert np.allclose(feats[1][:6], feats[5][:6], atol=1.2e-2)

    # Compressed formats reject by name (the extension-point gate).
    bad = bytearray(variants[2])
    bad[20] = 2                                       # ADPCM
    with pytest.raises(ValueError, match="unsupported WAV sample format"):
        MC.decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="dtype"):
        MC.encode_wav(wave.astype(np.float16), 16000)
    with pytest.raises(ValueError, match="int32"):
        MC.encode_wav((wave * 32767).astype(np.int16), 16000, bits=24)


def test_property_r13_codec_roundtrips():
    """Hypothesis fuzz over the r13 codec surfaces: random shapes,
    densities and strip/tile geometry round-trip exactly through G3
    1D/2D (any k, either EOL alignment), planar-2 at 8/16-bit, bilevel
    tiles (packed + CCITT), and G.711 (decoded signals are re-encode
    fixed points); and random byte mutations of a valid container stay
    inside the totality contract's catchable set."""
    import struct
    import zlib

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spreadsheet_etl_engine_spark.functions import ccitt_g4 as CC
    from spreadsheet_etl_engine_spark.functions import media_codecs as MC
    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 24), w=st.integers(1, 40),
        seed=st.integers(0, 2**31),
        kind=st.sampled_from([
            "g3", "g3a", "g3_2d_k1", "g3_2d_k3a", "planar8", "planar16",
            "tile_g4", "tile_none", "tile_g3_2d", "alaw", "mulaw",
            "ima_adpcm", "ms_adpcm", "au16", "aiff",
        ]),
    )
    def roundtrip(h, w, seed, kind):
        rng = np.random.default_rng(seed)
        if kind in ("au16", "aiff"):
            # Lossless PCM16 big-endian containers (r14): EXACT
            # round trip for arbitrary arrays and channel counts —
            # byte-swap or interleave mistakes cannot survive random
            # int16 data.
            ch = 1 + seed % 3
            wave = rng.integers(-32768, 32768, (h * w, ch)).astype(np.int16)
            if kind == "au16":
                data = MC.encode_au(wave, 8000 + seed % 99991)
                arr, rate = MC.decode_au(data)
            else:
                data = MC.encode_aiff(wave, 8000 + seed % 99991)
                arr, rate = MC.decode_aiff(data)
            assert rate == 8000 + seed % 99991
            assert np.array_equal(arr, wave)
            return
        if kind in ("ima_adpcm", "ms_adpcm"):
            # ADPCM is lossy, so no byte fixed point — the pinned
            # property is DECODE determinism against the scalar
            # reference (exact, arbitrary ns/block boundary/channels)
            # plus the fact-chunk truncation shape.
            ch = 1 + seed % 2
            ns = h * w
            wave = rng.integers(-32768, 32768, (ns, ch)).astype(np.int16)
            ba = (32, 64, 36)[seed % 3] * ch
            data = MC.encode_wav(wave, 8000, codec=kind, block_align=ba)
            arr, rate = MC.decode_wav(data)
            assert rate == 8000 and arr.shape == (ns, ch)
            doff = data.index(b"data") + 8
            body = np.frombuffer(data[doff:], dtype=np.uint8)
            scalar = (_ima_decode_reference(bytes(body), ch, ba)
                      if kind == "ima_adpcm"
                      else _ms_decode_reference(bytes(body), ch, ba))
            assert np.array_equal(scalar[:ns], arr)
            return
        if kind in ("alaw", "mulaw"):
            wave = rng.integers(-32768, 32768, h * w).astype(np.int16)
            data = MC.encode_wav(wave, 8000, codec=kind)
            arr, rate = MC.decode_wav(data)
            assert rate == 8000 and arr.shape == (h * w, 1)
            again = MC.encode_wav(arr[:, 0], 8000, codec=kind)
            # Byte-level fixed point, modulo mu-law's negative zero:
            # samples in {-3,-2,-1} encode to 0x7F, which decodes to 0
            # and re-encodes to the canonical 0xFF — same value, two
            # codes (the documented G.711 exception).  Decoded VALUES
            # must be exact fixed points regardless.
            a = np.frombuffer(data[44:44 + h * w], dtype=np.uint8)
            b = np.frombuffer(again[44:44 + h * w], dtype=np.uint8)
            diff = a != b
            assert not diff.any() or (
                kind == "mulaw"
                and np.all(a[diff] == 0x7F) and np.all(b[diff] == 0xFF))
            arr2, _ = MC.decode_wav(again)
            assert np.array_equal(arr2, arr)
            return
        if kind.startswith("planar"):
            deep = kind == "planar16"
            img = rng.integers(0, 65536 if deep else 256, (h, w, 3)).astype(
                np.uint16 if deep else np.uint8)
            rps = int(rng.integers(1, h + 1))
            data = TC.encode_tiff(img, planar=True, compression="lzw",
                                  predictor=True, rows_per_strip=rps)
            assert np.array_equal(TC.decode_tiff(data), img)
            return
        bm = (rng.random((h, w)) < rng.random()).astype(np.uint8)
        if kind.startswith("tile_"):
            comp = kind.split("_", 1)[1]
            tw = int(rng.integers(1, w + 9))
            tl = int(rng.integers(1, h + 9))
            data = TC.encode_tiff(bm * 255, bilevel=True, compression=comp,
                                  tile=(tw, tl))
            got = TC.decode_tiff(data)
            assert np.array_equal(got[:, :, 0], bm * 255)
            return
        if kind == "g3":
            data = CC.g3_encode(bm)
        elif kind == "g3a":
            data = CC.g3_encode(bm, eol_align=True)
        elif kind == "g3_2d_k1":
            data = CC.g3_2d_encode(bm, k=1)
        else:
            data = CC.g3_2d_encode(bm, k=3, eol_align=True)
        dec = CC.g3_2d_decode if kind.startswith("g3_2d") else CC.g3_decode
        assert np.array_equal(dec(data, w, h), bm)

    roundtrip()

    @settings(max_examples=40, deadline=None)
    @given(seed=st.integers(0, 2**31), nmut=st.integers(1, 6))
    def totality(seed, nmut):
        rng = np.random.default_rng(seed)
        bm = ((rng.random((9, 23)) < 0.5) * 255).astype(np.uint8)
        comp = ("g3", "g3_2d", "g4", "jpeg", "lzw")[seed % 5]
        src = (rng.integers(0, 256, (9, 23, 3)).astype(np.uint8)
               if comp == "jpeg" else bm)
        data = bytearray(TC.encode_tiff(
            src, bilevel=comp not in ("jpeg", "lzw"), compression=comp))
        for pos in rng.integers(0, len(data), nmut):
            data[pos] ^= int(rng.integers(1, 256))
        try:
            out = TC.decode_tiff(bytes(data))
            assert out.ndim == 3          # well-formed or a loud raise —
        except (ValueError, IndexError, struct.error, zlib.error):
            pass                          # the mapInPandas catchable set

    totality()


def test_wav_g711_alaw_mulaw(spark):
    """r13: G.711 companded WAV (format 6 a-law / 7 mu-law — the
    telephony encodings): ITU segment-formula tables, pinned by the
    exact involution over all 256 codes (with mu-law's documented
    negative-zero exception), quantization error inside the segment
    bound, decoded-signal fixed point, and the same feature embedding
    as the PCM16 original within companding error."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    # Involution: every decode-table entry re-encodes to its byte
    # (mu-law byte 0x7F is the negative zero that canonically
    # re-encodes to 0xFF — both expand to 0).
    all_bytes = np.arange(256)
    assert np.array_equal(MC._alaw_encode(MC._ALAW_TABLE), all_bytes)
    mu = MC._mulaw_encode(MC._MULAW_TABLE)
    assert mu[0x7F] == 0xFF and MC._MULAW_TABLE[0x7F] == 0
    rest = np.delete(all_bytes, 0x7F)
    assert np.array_equal(mu[rest], rest)
    # Spec spot values: a-law code 0x55 (toggled to 0) is the smallest
    # positive step (+8); mu-law 0xFF expands to 0.
    assert MC._ALAW_TABLE[0x55] == 8 and MC._MULAW_TABLE[0xFF] == 0

    wave = (np.sin(np.arange(400) * 0.1) * 20000).astype(np.int16)
    ref = MC.encode_wav(wave, 16000)
    feats = {}
    for codec in ("alaw", "mulaw"):
        data = MC.encode_wav(wave, 16000, codec=codec)
        assert len(data) == 44 + 400 and MC.sniff(data) == "wav"
        arr, rate = MC.decode_wav(data)
        assert arr.dtype == np.int16 and arr.shape == (400, 1)
        err = np.abs(arr[:, 0].astype(np.int32) - wave.astype(np.int32))
        assert np.all(err <= np.maximum(
            np.abs(wave.astype(np.int32)) // 16, 64))
        # Fixed point: decoded VALUES are exact re-encode fixed points
        # (bytes too, except mu-law's negative-zero canonicalization —
        # pinned exhaustively by the property fuzz).
        again = MC.encode_wav(arr[:, 0], 16000, codec=codec)
        arr2, _ = MC.decode_wav(again)
        assert np.array_equal(arr2, arr)
        feats[codec] = data
    rows = [(1, "audio", ref, 0),
            (2, "audio", feats["alaw"], 0),
            (3, "audio", feats["mulaw"], 0)]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {r["media_id"]: np.array(r["feature"])
           for r in MM.extract_features(media).collect()}
    for m in (2, 3):
        assert np.allclose(got[m][:6], got[1][:6], atol=2e-2), m
    with pytest.raises(ValueError, match="int16"):
        MC.encode_wav(wave.astype(np.int32), 16000, codec="alaw")
    with pytest.raises(ValueError, match="unknown WAV codec"):
        MC.encode_wav(wave, 16000, codec="adpcm")


def _ima_decode_reference(body: bytes, ch: int, ba: int):
    """Slow scalar IMA ADPCM decoder, written independently from the
    vectorized one (per-sample loop straight off the published
    recursion) — the in-test oracle twin."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    steps = MC._IMA_STEPS
    adjust = [-1, -1, -1, -1, 2, 4, 6, 8]
    out = []
    for b0 in range(0, len(body), ba):
        block = body[b0:b0 + ba]
        pred, idx = [], []
        for c in range(ch):
            p = int.from_bytes(block[4 * c:4 * c + 2], "little", signed=True)
            pred.append(p)
            idx.append(block[4 * c + 2])
        chans = [[p] for p in pred]
        data = block[4 * ch:]
        # 4-byte words round-robin per channel; 8 nibbles per word,
        # low nibble first.
        for w0 in range(0, len(data), 4 * ch):
            for c in range(ch):
                word = data[w0 + 4 * c:w0 + 4 * c + 4]
                for byte in word:
                    for nib in (byte & 0x0F, byte >> 4):
                        step = int(steps[idx[c]])
                        diff = step >> 3
                        if nib & 1:
                            diff += step >> 2
                        if nib & 2:
                            diff += step >> 1
                        if nib & 4:
                            diff += step
                        if nib & 8:
                            diff = -diff
                        pred[c] = max(-32768, min(32767, pred[c] + diff))
                        idx[c] = max(0, min(88, idx[c] + adjust[nib & 7]))
                        chans[c].append(pred[c])
        out.extend(zip(*chans))
    return np.array(out, dtype=np.int16)


def _ms_decode_reference(body: bytes, ch: int, ba: int):
    """Slow scalar MS ADPCM decoder (standard-coefficient table),
    independent of the vectorized one — the in-test oracle twin."""
    import numpy as np

    coef1 = [256, 512, 0, 192, 240, 460, 392]
    coef2 = [0, -256, 0, 64, 0, -208, -232]
    adapt = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]
    out = []
    for b0 in range(0, len(body), ba):
        block = body[b0:b0 + ba]
        pidx = [block[c] for c in range(ch)]

        def i16(off, c):
            return int.from_bytes(
                block[off + 2 * c:off + 2 * c + 2], "little", signed=True)

        delta = [i16(ch, c) for c in range(ch)]
        s1 = [i16(3 * ch, c) for c in range(ch)]
        s2 = [i16(5 * ch, c) for c in range(ch)]
        chans = [[s2[c], s1[c]] for c in range(ch)]
        nibbles = []
        for byte in block[7 * ch:]:
            nibbles.extend((byte >> 4, byte & 0x0F))
        for t, unib in enumerate(nibbles):
            c = t % ch
            code = unib - 16 if unib >= 8 else unib
            # int() division truncates toward zero like the C reference
            # (r14 ADVICE: >>8 floors, diverging on negative sums).
            num = s1[c] * coef1[pidx[c]] + s2[c] * coef2[pidx[c]]
            pred = -((-num) >> 8) if num < 0 else num >> 8
            pred = max(-32768, min(32767, pred + code * delta[c]))
            chans[c].append(pred)
            s2[c], s1[c] = s1[c], pred
            delta[c] = max(16, (adapt[unib] * delta[c]) >> 8)
        out.extend(zip(*chans))
    return np.array(out, dtype=np.int16)


def test_wav_adpcm_ima_and_ms(spark):
    """r14: ADPCM WAV (format 17 IMA/DVI, format 2 Microsoft) — the
    last compressed WAV encodings reachable without a media library
    (integer predictor + published tables, the same pure-numpy class as
    r13's G.711).  Pins: the vectorized block decoders against
    independent scalar reference decoders (exact), round-trip
    quantization error bounds, fact-chunk truncation of the padded
    final block, stereo channel integrity, closed-form byte sizes, and
    the feature embedding against the PCM16 original."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    t = np.arange(400)
    wave = (np.sin(t * 0.1) * 12000).astype(np.int16)
    ref = MC.encode_wav(wave, 16000)
    feats = {}
    for codec, fmt_code, hdr in (("ima_adpcm", 17, 60), ("ms_adpcm", 2, 90)):
        for ch in (1, 2):
            if ch == 1:
                sig = wave[:, None]
            else:
                # Distinct per-channel signals so an interleave bug
                # cannot cancel out.
                sig = np.stack(
                    [wave, (np.cos(t * 0.23) * 9000).astype(np.int16)],
                    axis=1)
            ba = 32 * ch
            data = MC.encode_wav(sig, 16000, codec=codec, block_align=ba)
            assert MC.sniff(data) == "wav"
            # Closed-form size: fixed header + whole blocks (fact chunk
            # carries the true count; no RIFF pad — blocks are even).
            spb = ((ba - 4 * ch) * 2 // ch + 1 if codec == "ima_adpcm"
                   else (ba - 7 * ch) * 2 // ch + 2)
            nb = -(-400 // spb)
            assert len(data) == hdr + nb * ba
            arr, rate = MC.decode_wav(data)
            assert rate == 16000 and arr.dtype == np.int16
            assert arr.shape == sig.shape  # fact truncation exact
            # Vectorized decoder == scalar reference decoder, exactly
            # (over the full padded blocks, before truncation).
            body = data[hdr - 8 + 8:]
            assert len(body) == nb * ba
            scalar = (_ima_decode_reference(body, ch, ba)
                      if codec == "ima_adpcm"
                      else _ms_decode_reference(body, ch, ba))
            vec = (MC._ima_adpcm_decode(
                       np.frombuffer(body, dtype=np.uint8), ch, ba)
                   if codec == "ima_adpcm"
                   else MC._ms_adpcm_decode(
                       np.frombuffer(body, dtype=np.uint8), ch, ba,
                       MC._MS_COEF1, MC._MS_COEF2))
            assert np.array_equal(scalar, vec)
            # Quantization error bound: ADPCM tracks a 12000-amplitude
            # sine to well under 2% of full scale once adapted.
            err = np.abs(arr.astype(np.int32) - sig.astype(np.int32))
            assert err.max() <= 600 and err.mean() <= 120, (codec, ch)
            if ch == 1:
                feats[codec] = data
    # Feature embedding: same waveform through ADPCM produces ~the
    # PCM16 features (normalized stats absorb the quantization noise).
    rows = [(1, "audio", ref, 0),
            (2, "audio", feats["ima_adpcm"], 0),
            (3, "audio", feats["ms_adpcm"], 0)]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {r["media_id"]: np.array(r["feature"])
           for r in MM.extract_features(media).collect()}
    for m in (2, 3):
        assert np.allclose(got[m][:6], got[1][:6], atol=2e-2), m
    # Constant signals are exact fixed points (zero diff encodes to
    # the zero nibble; MS predictor-0 predicts sample1).
    flat = np.full(100, 777, dtype=np.int16)
    for codec in ("ima_adpcm", "ms_adpcm"):
        arr, _ = MC.decode_wav(
            MC.encode_wav(flat, 8000, codec=codec, block_align=32))
        assert np.array_equal(arr[:, 0], flat), codec
    # Validation contract: named errors, not bare numpy failures.
    with pytest.raises(ValueError, match="int16"):
        MC.encode_wav(wave.astype(np.int32), 16000, codec="ima_adpcm")
    with pytest.raises(ValueError, match="4 bits"):
        MC.encode_wav(wave, 16000, codec="ms_adpcm", bits=8)
    with pytest.raises(ValueError, match="block_align"):
        MC.encode_wav(wave, 16000, codec="ima_adpcm", block_align=30)
    with pytest.raises(ValueError, match="block_align"):
        MC.encode_wav(wave, 16000, codec="ms_adpcm", block_align=7)
    good = MC.encode_wav(wave, 16000, codec="ima_adpcm", block_align=32)
    with pytest.raises(ValueError, match="multiple of"):
        MC._ima_adpcm_decode(np.zeros(33, dtype=np.uint8), 1, 32)
    with pytest.raises(ValueError, match="step index"):
        bad = bytearray(32)
        bad[2] = 89
        MC._ima_adpcm_decode(np.frombuffer(bytes(bad), np.uint8), 1, 32)
    with pytest.raises(ValueError, match="predictor index"):
        bad = bytearray(32)
        bad[0] = 7
        MC._ms_adpcm_decode(np.frombuffer(bytes(bad), np.uint8), 1, 32,
                            MC._MS_COEF1, MC._MS_COEF2)
    # A fact chunk claiming more samples than the blocks hold is
    # corrupt, not silently short.
    fact_off = good.index(b"fact") + 8
    bad = bytearray(good)
    struct.pack_into("<I", bad, fact_off, 10_000)
    with pytest.raises(ValueError, match="fact chunk claims"):
        MC.decode_wav(bytes(bad))
    # An EMPTY data chunk (zero blocks) is a legal file and decodes to
    # a (0, ch) array — not a bare numpy reshape error (r14
    # self-review find on the IMA path).
    for ch in (1, 2):
        empty = MC._ima_adpcm_decode(
            np.zeros(0, dtype=np.uint8), ch, 32 * ch)
        assert empty.shape == (0, ch) and empty.dtype == np.int16
        empty = MC._ms_adpcm_decode(
            np.zeros(0, dtype=np.uint8), ch, 32 * ch,
            MC._MS_COEF1, MC._MS_COEF2)
        assert empty.shape == (0, ch)
    # r15 (r14 ADVICE): the predictor divides truncating toward zero,
    # not a floor >>8.  Predictor 6 (coef1=392, coef2=-232) reaches
    # negative sums not divisible by 256 — with samp1=-1, samp2=0 the
    # first step predicts trunc(-392/256) = -1 (floor would give -2),
    # and the divergence feeds back through samp1/samp2.  Our own
    # encoder (predictor 0) can't exercise this; build the block by
    # hand and pin both the hand value and scalar==vectorized.
    blk = bytearray(32)
    blk[0] = 6                                   # predictor index
    struct.pack_into("<h", blk, 1, 16)           # initial delta
    struct.pack_into("<h", blk, 3, -1)           # sample1 (newer)
    struct.pack_into("<h", blk, 5, 0)            # sample2 (older)
    # all-zero nibbles: out[t] = pred exactly, isolating the division
    dec = MC._ms_adpcm_decode(np.frombuffer(bytes(blk), np.uint8), 1, 32,
                              MC._MS_COEF1, MC._MS_COEF2)
    assert dec[0, 0] == 0 and dec[1, 0] == -1
    assert dec[2, 0] == -1, "predictor must truncate toward zero, not floor"
    assert np.array_equal(dec, _ms_decode_reference(bytes(blk), 1, 32))
    # r15 (r14 ADVICE): RIFF orders only fmt-before-data — a fact chunk
    # AFTER data must still truncate the padded tail (and still catch
    # fact>decoded corruption).  Reassemble `good` with fact last.
    chunks, p = {}, 12
    while p + 8 <= len(good):
        cid = good[p:p + 4]
        csz = struct.unpack_from("<I", good, p + 4)[0]
        chunks[cid] = good[p:p + 8 + csz + (csz & 1)]
        p += 8 + csz + (csz & 1)
    reordered = bytearray(
        b"RIFF" + good[4:8] + b"WAVE"
        + chunks[b"fmt "] + chunks[b"data"] + chunks[b"fact"])
    arr, _ = MC.decode_wav(bytes(reordered))
    assert arr.shape == (400, 1)  # 8 blocks pad to 456 without fact
    struct.pack_into("<I", reordered, reordered.index(b"fact") + 8, 10_000)
    with pytest.raises(ValueError, match="fact chunk claims"):
        MC.decode_wav(bytes(reordered))


def test_wav_extensible():
    """r15: WAVE_FORMAT_EXTENSIBLE (fmt 0xFFFE) — how real writers
    (ffmpeg, Windows, libsndfile) emit >16-bit and multichannel PCM.
    Pins: decode equivalence with the plain-fmt encoding of the same
    samples across PCM16-stereo/PCM24/PCM32/float32, the closed-form
    size (the 40-byte fmt chunk adds exactly 24 bytes over the plain
    16-byte one), and the named rejection of every malformed extension
    shape (short chunk, short cbSize, non-KS GUID, valid bits past the
    container, codec paths)."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    t = np.arange(200)
    cases = [
        ("pcm16st", np.stack([(np.sin(t * 0.1) * 9000).astype(np.int16),
                              (np.cos(t * 0.2) * 7000).astype(np.int16)],
                             axis=1), None),
        ("pcm24", (np.sin(t * 0.1) * 2**30).astype(np.int32), 24),
        ("pcm32", (np.sin(t * 0.1) * 2**30).astype(np.int32), None),
        ("f32", np.sin(t * 0.1).astype(np.float32), None),
    ]
    for name, sig, bits in cases:
        plain = MC.encode_wav(sig, 16000, bits=bits)
        ext = MC.encode_wav(sig, 16000, bits=bits, extensible=True)
        assert MC.sniff(ext) == "wav"
        assert len(ext) == len(plain) + 24, name  # 40- vs 16-byte fmt
        pa, pr = MC.decode_wav(plain)
        ea, er = MC.decode_wav(ext)
        assert pr == er and pa.dtype == ea.dtype, name
        assert np.array_equal(pa, ea), name
    # Malformed extensions fail by name.
    good = MC.encode_wav(cases[0][1], 16000, extensible=True)
    short = bytearray(good)
    struct.pack_into("<I", short, short.index(b"fmt ") + 4, 16)
    with pytest.raises(ValueError, match="needs 40"):
        MC.decode_wav(bytes(short))
    small_cb = bytearray(good)
    struct.pack_into("<H", small_cb, small_cb.index(b"fmt ") + 8 + 16, 2)
    with pytest.raises(ValueError, match="cbSize"):
        MC.decode_wav(bytes(small_cb))
    bad_guid = bytearray(good)
    bad_guid[bad_guid.index(b"fmt ") + 8 + 30] ^= 0xFF
    with pytest.raises(ValueError, match="KSDATAFORMAT"):
        MC.decode_wav(bytes(bad_guid))
    too_valid = bytearray(good)
    struct.pack_into("<H", too_valid, too_valid.index(b"fmt ") + 8 + 18, 64)
    with pytest.raises(ValueError, match="valid bits"):
        MC.decode_wav(bytes(too_valid))
    with pytest.raises(ValueError, match="PCM/IEEE"):
        MC.encode_wav(cases[0][1], 16000, codec="mulaw", extensible=True)
    # A block-codec subtype would leave the plain-layout coefficient
    # parse reading extension bytes — rejected by name.
    adpcm_sub = bytearray(good)
    struct.pack_into("<I", adpcm_sub, adpcm_sub.index(b"fmt ") + 8 + 24, 2)
    with pytest.raises(ValueError, match="extensible WAV subtype"):
        MC.decode_wav(bytes(adpcm_sub))
    # The G.711 subtypes DO occur extensible (telephony rips): decode
    # matches the plain-fmt file for the same companded bytes.
    mono = (np.sin(t * 0.1) * 9000).astype(np.int16)
    plain711 = MC.encode_wav(mono, 8000, codec="mulaw")
    ext711 = bytearray(plain711)
    fpos = plain711.index(b"fmt ")
    fmt_body = (struct.pack("<HHIIHHHHI", 0xFFFE, 1, 8000, 8000, 1, 8,
                            22, 8, 0)
                + struct.pack("<I", 7) + MC._KS_GUID_SUFFIX)
    rest = plain711[fpos + 8 + 16:]
    ext711 = (plain711[:fpos]
              + struct.pack("<4sI", b"fmt ", len(fmt_body)) + fmt_body
              + rest)
    ext711 = (struct.pack("<4sI", b"RIFF", len(ext711) - 8 + 24)
              + ext711[8:])
    pa, _ = MC.decode_wav(plain711)
    ea, _ = MC.decode_wav(bytes(ext711))
    assert np.array_equal(pa, ea)


def test_au_and_aiff_containers(spark):
    """r14: the non-RIFF audio containers real speech corpora carry —
    Sun AU (.snd: six big-endian uint32 fields; mu-law via the r13
    G.711 tables, signed int8, PCM16 BE, float32, until-EOF sizes) and
    AIFF (IFF FORM: COMM with the 80-bit extended sample rate + SSND
    with alignment offset; PCM16 BE).  Pins: round trips, byte-exact
    closed-form sizes, the f80 rate conversion both ways, big-endian
    sample order (an LE/BE confusion cannot round-trip int16 values
    asymmetric under byte swap), stereo channel integrity, feature
    equality with the same waveform as WAV, and named error paths."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    t = np.arange(400)
    wave = (np.sin(t * 0.1) * 12000).astype(np.int16)
    stereo = np.stack(
        [wave, (np.cos(t * 0.23) * 9000).astype(np.int16)], axis=1)

    # AU: PCM16 BE round-trips exactly; mu-law within companding error.
    au16 = MC.encode_au(stereo, 16000)
    assert MC.sniff(au16) == "au" and len(au16) == 24 + 4 * 400
    arr, rate = MC.decode_au(au16)
    assert rate == 16000 and np.array_equal(arr, stereo)
    aum = MC.encode_au(wave, 8000, codec="mulaw")
    assert len(aum) == 24 + 400
    arr, rate = MC.decode_au(aum)
    assert rate == 8000 and arr.shape == (400, 1)
    # mu-law through AU == mu-law through WAV (same ITU tables).
    wav_arr, _ = MC.decode_wav(MC.encode_wav(wave, 8000, codec="mulaw"))
    assert np.array_equal(arr, wav_arr)
    # Hand-built: signed int8 encoding (2) and until-EOF size field.
    body = np.array([-128, -1, 0, 1, 127], dtype=np.int8).tobytes()
    raw = struct.pack(">4sIIIII", b".snd", 24, 0xFFFFFFFF, 2, 8000, 1) + body
    arr, rate = MC.decode_au(raw)
    assert np.array_equal(arr[:, 0] >> 8, [-128, -1, 0, 1, 127])
    # float32 BE encoding (6).
    f32 = np.array([0.5, -0.25], dtype=">f4").tobytes()
    raw = struct.pack(">4sIIIII", b".snd", 24, 8, 6, 44100, 2) + f32
    arr, rate = MC.decode_au(raw)
    assert arr.shape == (1, 2) and arr.dtype == np.float32
    assert arr[0, 0] == 0.5 and arr[0, 1] == -0.25

    # AIFF: stereo PCM16 BE round-trips exactly; f80 rate is exact.
    for r in (8000, 16000, 22050, 44100, 48000, 96000, 11025):
        assert MC._f80_to_int(MC._int_to_f80(r)) == r
    aiff = MC.encode_aiff(stereo, 44100)
    assert MC.sniff(aiff) == "aiff" and len(aiff) == 54 + 4 * 400
    arr, rate = MC.decode_aiff(aiff)
    assert rate == 44100 and np.array_equal(arr, stereo)
    # SSND offset field: 4 junk bytes before the samples must be
    # skipped (block-aligned writers emit this).
    comm = struct.pack(">HIH", 1, 3, 16) + MC._int_to_f80(8000)
    pcm = np.array([100, -2, 3], dtype=">i2").tobytes()
    ssnd = struct.pack(">II", 4, 0) + b"JUNK" + pcm
    chunks = (struct.pack(">4sI", b"COMM", len(comm)) + comm
              + struct.pack(">4sI", b"SSND", len(ssnd)) + ssnd)
    raw = struct.pack(">4sI4s", b"FORM", 4 + len(chunks), b"AIFF") + chunks
    arr, rate = MC.decode_aiff(raw)
    assert np.array_equal(arr[:, 0], [100, -2, 3])

    # Same waveform through WAV / AU / AIFF embeds identically (exact:
    # all three decode to the same int16 array).
    rows = [(1, "audio", MC.encode_wav(wave, 16000), 0),
            (2, "audio", MC.encode_au(wave, 16000), 0),
            (3, "audio", MC.encode_aiff(wave, 16000), 0)]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = {r["media_id"]: np.array(r["feature"])
             for r in MM.extract_features(media).collect()}
    assert np.allclose(feats[2], feats[1], atol=0)
    assert np.allclose(feats[3], feats[1], atol=0)
    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert all((dec[m]["width"], dec[m]["height"]) == (400, 1)
               for m in (1, 2, 3))

    # Named error paths.
    # (23 = G.721 ADPCM, a real assignment our table doesn't carry; 27
    # became the supported a-law encoding in r15.)
    with pytest.raises(ValueError, match="unsupported AU encoding"):
        MC.decode_au(struct.pack(">4sIIIII", b".snd", 24, 4, 23, 8000, 1)
                     + b"\x00" * 4)
    with pytest.raises(ValueError, match="multiple of"):
        MC.decode_au(struct.pack(">4sIIIII", b".snd", 24, 3, 3, 8000, 1)
                     + b"\x00" * 3)
    with pytest.raises(ValueError, match="AU data offset"):
        MC.decode_au(struct.pack(">4sIIIII", b".snd", 9999, 0, 1, 8000, 1))
    # r15 review pass 12: a header declaring more data than the file
    # holds is corruption, not a silently short decode (the AIFF
    # COMM-vs-SSND check's AU twin).
    with pytest.raises(ValueError, match="only 4 are present"):
        MC.decode_au(struct.pack(">4sIIIII", b".snd", 24, 500, 1, 8000, 1)
                     + b"\x00" * 4)
    # r15 review pass 12: a corrupt/denormal 80-bit rate converts to 0
    # and must be rejected by name, not flow into duration math.
    with pytest.raises(ValueError, match="rate must be positive"):
        zero_rate = bytearray(aiff)
        rpos = aiff.index(b"COMM") + 8 + 8
        zero_rate[rpos:rpos + 10] = b"\x00" * 10
        MC.decode_aiff(bytes(zero_rate))
    with pytest.raises(ValueError, match="AIFC compression"):
        comp_comm = (struct.pack(">HIH", 1, 1, 16) + MC._int_to_f80(8000)
                     + b"ima4")
        raw = (struct.pack(">4sI4s", b"FORM", 30, b"AIFC")
               + struct.pack(">4sI", b"COMM", len(comp_comm)) + comp_comm)
        MC.decode_aiff(raw)
    # r15: AIFC sowt (byte-swapped little-endian PCM16 — the iTunes/
    # macOS shape).  Hand-built: int16 values asymmetric under byte
    # swap, so an endianness bug cannot round-trip.
    sowt_sig = np.array([[300], [-12345], [7]], dtype=np.int16)
    sowt_comm = (struct.pack(">HIH", 1, 3, 16) + MC._int_to_f80(8000)
                 + b"sowt" + b"\x00\x00")
    sowt_ssnd = struct.pack(">II", 0, 0) + sowt_sig.astype("<i2").tobytes()
    sowt_chunks = (struct.pack(">4sI", b"COMM", len(sowt_comm)) + sowt_comm
                   + struct.pack(">4sI", b"SSND", len(sowt_ssnd))
                   + sowt_ssnd)
    sowt_raw = (struct.pack(">4sI4s", b"FORM", 4 + len(sowt_chunks),
                            b"AIFC") + sowt_chunks)
    arr, r = MC.decode_aiff(sowt_raw)
    assert r == 8000 and np.array_equal(arr, sowt_sig)
    # r15: AU a-law (encoding 27) round-trips within the G.711
    # quantization bound, exact on table values.
    ala = MC.encode_au(wave, 8000, codec="alaw")
    assert ala[:4] == b".snd" and len(ala) == 24 + len(wave)
    dec, r = MC.decode_au(ala)
    assert r == 8000
    err = np.abs(dec[:, 0].astype(np.int32) - wave.astype(np.int32))
    # a-law segment quantization: relative error bounded by the segment
    # step (<= mag/16 + 8 in the linear segment scaling).
    assert (err <= np.maximum(np.abs(wave.astype(np.int32)) // 16, 8) + 8).all()
    exact = MC._ALAW_TABLE.copy()
    again, _ = MC.decode_au(MC.encode_au(exact, 8000, codec="alaw"))
    assert np.array_equal(again[:, 0], exact)
    with pytest.raises(ValueError, match="COMM declares"):
        bad = bytearray(aiff)
        # inflate the COMM frame count past the SSND bytes
        cpos = aiff.index(b"COMM") + 8 + 2
        struct.pack_into(">I", bad, cpos, 500)
        MC.decode_aiff(bytes(bad))
    with pytest.raises(ValueError, match="rate out of range"):
        MC._f80_to_int(struct.pack(">H", 16383 + 70) + (1 << 63).to_bytes(8, "big"))
    with pytest.raises(ValueError, match="int16"):
        MC.encode_aiff(wave.astype(np.int32), 8000)
    with pytest.raises(ValueError, match="unknown AU codec"):
        MC.encode_au(wave, 8000, codec="adpcm")


def test_tiff_codec_roundtrip_matrix():
    """r12: baseline TIFF 6.0 round trips — strip heights x
    none/LZW(+ horizontal-differencing predictor)/PackBits x
    gray/RGB/RGBA, bilevel scans, palette ColorMap, multi-page with
    per-page dimensions, O(IFD) probes, and a hand-built big-endian
    (MM) file."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    rng = np.random.default_rng(1219)
    for h, w, ch in [(1, 1, 1), (6, 10, 3), (13, 23, 4)]:
        img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        for comp in ("none", "lzw", "packbits"):
            for rps in (None, 1, 4):
                data = TC.encode_tiff(img, compression=comp,
                                      rows_per_strip=rps)
                assert np.array_equal(TC.decode_tiff(data), img)
                assert TC.probe_tiff_dims(data) == (w, h)
    img = rng.integers(0, 256, (9, 17, 3), dtype=np.uint8)
    data = TC.encode_tiff(img, compression="lzw", predictor=True,
                          rows_per_strip=3)
    assert np.array_equal(TC.decode_tiff(data), img)

    # Bilevel (the fax/scan shape) and palette ColorMap.
    g = (rng.integers(0, 2, (14, 37)) * 255).astype(np.uint8)
    for comp in ("none", "lzw", "packbits"):
        got = TC.decode_tiff(TC.encode_tiff(g, compression=comp,
                                            bilevel=True, rows_per_strip=5))
        assert np.array_equal(got[:, :, 0], g), comp
    pal = rng.integers(0, 256, (40, 3), dtype=np.uint8)
    idx = rng.integers(0, 40, (11, 13)).astype(np.uint8)
    got = TC.decode_tiff(TC.encode_tiff(idx, palette=pal, compression="lzw"))
    assert np.array_equal(got, pal[idx])

    # Multi-page, pages of different sizes.
    pages = [rng.integers(0, 256, s, dtype=np.uint8)
             for s in ((8, 12, 3), (5, 7, 3), (20, 30, 3))]
    data = TC.encode_tiff(pages, compression="lzw")
    assert TC.count_tiff_pages(data) == 3
    assert all(np.array_equal(a, b)
               for a, b in zip(TC.decode_tiff_pages(data), pages))

    # LZW 12-bit overflow + re-clear.
    big = np.concatenate([
        np.zeros(6000, np.uint8),
        rng.integers(0, 256, 40000).astype(np.uint8),
        np.tile(np.arange(256, dtype=np.uint8), 40)])
    n = big.size // 100 * 100
    img = big[:n].reshape(100, -1)
    assert np.array_equal(
        TC.decode_tiff(TC.encode_tiff(img, compression="lzw"))[:, :, 0], img)

    # Hand-built BIG-ENDIAN file: 2x2 gray, uncompressed, inline strip.
    px = bytes([10, 20, 30, 40])
    ifd = struct.pack(">H", 6)
    ifd += struct.pack(">HHI4s", 256, 3, 1, struct.pack(">HH", 2, 0))
    ifd += struct.pack(">HHI4s", 257, 3, 1, struct.pack(">HH", 2, 0))
    ifd += struct.pack(">HHI4s", 258, 3, 1, struct.pack(">HH", 8, 0))
    ifd += struct.pack(">HHI4s", 262, 3, 1, struct.pack(">HH", 1, 0))
    ifd += struct.pack(">HHII", 273, 4, 1, 8 + 2 + 6 * 12 + 4)
    ifd += struct.pack(">HHII", 279, 4, 1, 4)
    ifd += b"\x00\x00\x00\x00"
    mm = b"MM\x00*" + struct.pack(">I", 8) + ifd + px
    got = TC.decode_tiff(mm)
    assert np.array_equal(got[:, :, 0], np.array([[10, 20], [30, 40]]))
    assert TC.probe_tiff_dims(mm) == (2, 2)

    # Gates by name.
    with pytest.raises(ValueError, match="BigTIFF"):
        TC.decode_tiff(b"II+\x00" + b"\x00" * 8)
    with pytest.raises(ValueError, match="not a TIFF"):
        TC.decode_tiff(b"ZZZZ" + b"\x00" * 8)
    with pytest.raises(ValueError, match="truncated|bounds"):
        TC.decode_tiff(TC.encode_tiff(img, compression="lzw")[:-30])
    with pytest.raises(ValueError, match="predictor"):
        TC.encode_tiff(img, compression="packbits", predictor=True)


def test_tiff_through_spark_pipeline(spark):
    """Multi-page TIFF flows like video: page counts without pixel
    decode, sampled pages emitted as PNG via decode_sampled_frames,
    per-page resize, first-page features."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC
    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    rng = np.random.default_rng(21)
    pages = [rng.integers(0, 256, (10, 14, 3), dtype=np.uint8)
             for _ in range(5)]
    scan = (rng.integers(0, 2, (12, 16)) * 255).astype(np.uint8)
    rows = [
        (1, "video", TC.encode_tiff(pages, compression="lzw"), 0),
        (2, "image", TC.encode_tiff(scan, bilevel=True,
                                    compression="packbits"), 0),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert (dec[1]["width"], dec[1]["height"], dec[1]["n_frames"]) == (14, 10, 5)
    assert (dec[2]["width"], dec[2]["height"], dec[2]["n_frames"]) == (16, 12, 1)

    sampled = {r["frame_idx"]: r for r in
               MM.decode_sampled_frames(media, every_k=2).collect()}
    assert sorted(sampled) == [0, 2, 4]
    for i in (0, 2, 4):
        assert np.array_equal(
            MC.decode_png(bytes(sampled[i]["frame_png"])), pages[i])

    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=7, height=5).collect()}
    got_pages = TC.decode_tiff_pages(resized[1])
    assert len(got_pages) == 5
    for i in range(5):
        assert np.array_equal(got_pages[i],
                              MC.resize_nearest(pages[i], 7, 5))
    # Bilevel scan resizes to an 8-bit gray page (what a resample is).
    small = TC.decode_tiff(resized[2])
    assert small.shape == (5, 7, 1)
    assert np.array_equal(small,
                          MC.resize_nearest(scan[:, :, None], 7, 5))

    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    p0 = pages[0].astype(np.float32) / 255.0
    assert np.allclose(feats[1][:3], p0.mean(axis=(0, 1)), atol=1e-5)
    assert len(feats[2]) == MM.FEATURE_DIM


def test_decode_budgets_fail_loud_not_oom():
    """Job safety (r12): a corrupt HEADER can claim a multi-GB image —
    a 30-byte GIF says 65535x65535, PNG dims are 32-bit, a zlib bomb
    inflates unboundedly — and the resulting MemoryError is NOT in the
    totality contract's catchable set, so it would kill the executor
    (not just the row).  Every codec rejects oversized claims by name
    BEFORE allocating, and PNG inflate is bounded by the
    header-declared scanline byte count."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import gif_codec as GC
    from spreadsheet_etl_engine_spark.functions import media_codecs as MC
    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    # GIF: huge logical screen in a tiny file.
    bomb = (b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
            + b"\x3B")
    with pytest.raises(ValueError, match="decode budget"):
        GC.decode_gif(bomb)

    # PNG: huge dims; and a zlib bomb behind honest dims must stop at
    # the declared size + 1, not inflate 100 MB.
    ihdr = struct.pack(">IIBBBBB", 100000, 100000, 8, 2, 0, 0, 0)
    png = (MC._PNG_SIG + MC._png_chunk(b"IHDR", ihdr)
           + MC._png_chunk(b"IDAT", zlib.compress(b"\x00" * 100))
           + MC._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="decode budget"):
        MC.decode_png(png)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bomb_idat = zlib.compress(b"\x00" * (100 * 1024 * 1024), 9)
    png = (MC._PNG_SIG + MC._png_chunk(b"IHDR", ihdr)
           + MC._png_chunk(b"IDAT", bomb_idat)
           + MC._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size mismatch"):
        MC.decode_png(png)  # bounded inflate: 53 bytes + 1, never 100 MB

    # TIFF: max SHORT dims claim 12.9 GB of RGB-sized samples.
    big = TC.encode_tiff(np.zeros((2, 2, 3), np.uint8))
    bad = bytearray(big)
    for tag in (256, 257):
        off = big.index(struct.pack("<HHI", tag, 3, 1))
        struct.pack_into("<H", bad, off + 8, 65535)
    with pytest.raises(ValueError, match="decode budget"):
        TC.decode_tiff(bytes(bad))

    # JPEG: dims claiming more coefficient memory than the budget.
    from spreadsheet_etl_engine_spark.functions import jpeg_codec as JC
    enc = JC.encode_jpeg(np.zeros((8, 8, 3), np.uint8), quality=85)
    sof = enc.index(b"\xff\xc0")
    bad = bytearray(enc)
    struct.pack_into(">HH", bad, sof + 5, 65500, 65500)
    with pytest.raises(ValueError, match="truncated|decode budget"):
        JC.decode_jpeg(bytes(bad))


def test_gif_tiff_corrupt_bytes_raise_only_catchable_classes():
    """The Arrow kernels catch exactly (ValueError, IndexError,
    struct.error, zlib.error); any OTHER class escaping decode on
    corrupt bytes kills the job instead of the row.  Random corruption
    + full truncation sweeps must stay inside that set (or decode to
    something)."""
    import struct
    import zlib

    import numpy as np

    from spreadsheet_etl_engine_spark.functions import gif_codec as GC
    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    catchable = (ValueError, IndexError, struct.error, zlib.error)
    rng = np.random.RandomState(99)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    gif = GC.encode_gif(rng.randint(0, 16, (3, 9, 14)).astype(np.uint8),
                        pal, transparent=2, delays_cs=[5, 5, 5])
    tif = TC.encode_tiff(
        [rng.randint(0, 256, (8, 12, 3)).astype(np.uint8)
         for _ in range(2)], compression="lzw", rows_per_strip=3)
    for good, dec in ((gif, GC.decode_gif), (tif, TC.decode_tiff_pages),
                      (gif, GC.count_gif_frames), (tif, TC.count_tiff_pages)):
        for _ in range(400):
            b = bytearray(good)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(len(b))] = rng.randint(256)
            try:
                dec(bytes(b))
            except catchable:
                pass
        for cut in range(1, len(good), 7):
            try:
                dec(good[:cut])
            except catchable:
                pass


def test_tiff_16bit_samples(spark):
    """r12: 16-bit TIFF (scientific/medical imagery) decodes to uint16
    in either byte order, round-trips through LZW + the sample-wise
    predictor, and embeds identically to its exact 8-bit twin through
    the dtype-aware feature normalization."""
    import struct

    import numpy as np

    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    rng = np.random.default_rng(23)
    for ch in (1, 3):
        img = rng.integers(0, 65536, (9, 14, ch)).astype(np.uint16)
        for comp in ("none", "lzw"):
            data = TC.encode_tiff(img, compression=comp, rows_per_strip=3,
                                  predictor=(comp == "lzw"))
            got = TC.decode_tiff(data)
            assert got.dtype == np.uint16 and np.array_equal(got, img)

    # Big-endian 16-bit fixture (hand-built MM file).
    px = struct.pack(">4H", 1000, 2000, 40000, 65535)
    ifd = struct.pack(">H", 6)
    ifd += struct.pack(">HHI4s", 256, 3, 1, struct.pack(">HH", 2, 0))
    ifd += struct.pack(">HHI4s", 257, 3, 1, struct.pack(">HH", 2, 0))
    ifd += struct.pack(">HHI4s", 258, 3, 1, struct.pack(">HH", 16, 0))
    ifd += struct.pack(">HHI4s", 262, 3, 1, struct.pack(">HH", 1, 0))
    ifd += struct.pack(">HHII", 273, 4, 1, 8 + 2 + 6 * 12 + 4)
    ifd += struct.pack(">HHII", 279, 4, 1, 8)
    ifd += b"\x00\x00\x00\x00"
    mm = b"MM\x00*" + struct.pack(">I", 8) + ifd + px
    assert np.array_equal(TC.decode_tiff(mm)[:, :, 0],
                          [[1000, 2000], [40000, 65535]])

    # 8-bit page and its exact 16-bit upcast: same embedding.
    img8 = (np.arange(8 * 12) % 256).astype(np.uint8).reshape(8, 12)
    rows = [
        (1, "image", TC.encode_tiff(img8), 0),
        (2, "image", TC.encode_tiff(img8.astype(np.uint16) * 257), 0),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    assert np.allclose(feats[1], feats[2], atol=1e-6)
    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=6, height=4).collect()}
    out = TC.decode_tiff(resized[2])
    assert out.dtype == np.uint16 and out.shape == (4, 6, 1)


def test_ccitt_g3_1d_codec_and_tiff_integration():
    """r13: CCITT Group 3 one-dimensional with EOL framing (TIFF
    Compression=3, the classic fax layout) — round-trips across sizes/
    densities/strip heights with and without EOL byte-alignment fill,
    the EOL framing is pinned by a hand-derived spec vector, G3/MH/G4
    decode the same pixels, the still-gated T4Options modes (2D,
    uncompressed) reject by name, and corrupt streams fail loud."""
    import re
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import ccitt_g4 as CC
    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    rng = np.random.default_rng(1303)
    for (h, w) in [(1, 1), (3, 8), (5, 64), (9, 1728), (4, 3000)]:
        for density in (0.0, 0.1, 0.5, 1.0):
            bm = (rng.random((h, w)) < density).astype(np.uint8)
            for align in (False, True):
                data = CC.g3_encode(bm, eol_align=align)
                assert np.array_equal(CC.g3_decode(data, w, h), bm), \
                    (h, w, density, align)
    # Spec vector: one all-white 8-px line = EOL (000000000001) then
    # the T.4 white-8 terminating code (10011).
    bits = "".join(f"{b:08b}" for b in CC.g3_encode(np.zeros((1, 8),
                                                             np.uint8)))
    assert bits.startswith("000000000001" + "10011"), bits
    # eol_align: every EOL's trailing one-bit lands on a byte boundary
    # (11+ zero runs cannot occur inside valid T.4 run codes, so every
    # such run IS an EOL).
    bm = (rng.random((6, 37)) < 0.4).astype(np.uint8)
    bits = "".join(f"{b:08b}" for b in CC.g3_encode(bm, eol_align=True))
    ends = [m.end() for m in re.finditer("0{11,}1", bits)]
    assert len(ends) == 6 and all(e % 8 == 0 for e in ends)

    # TIFF integration: strips x densities x multi-page; G3 == MH == G4
    # pixels; T4Options 2D/uncompressed reject by name.
    for rps in (None, 4):
        img = ((rng.random((19, 33)) < 0.5) * 255).astype(np.uint8)
        data = TC.encode_tiff(img, bilevel=True, compression="g3",
                              rows_per_strip=rps)
        want = ((img >= 128) * 255).astype(np.uint8)[:, :, None]
        assert np.array_equal(TC.decode_tiff(data), want), rps
    pages = [((rng.random((9, 25)) < 0.3) * 255).astype(np.uint8)
             for _ in range(3)]
    data = TC.encode_tiff(pages, bilevel=True, compression="g3")
    got = TC.decode_tiff_pages(data)
    assert len(got) == 3 and TC.count_tiff_pages(data) == 3
    for g, p in zip(got, pages):
        assert np.array_equal(g[:, :, 0], ((p >= 128) * 255)
                              .astype(np.uint8))
    bm8 = ((rng.random((7, 41)) < 0.4) * 255).astype(np.uint8)
    outs = [TC.decode_tiff(TC.encode_tiff(bm8, bilevel=True, compression=c))
            for c in ("g3", "mh", "g4")]
    assert np.array_equal(outs[0], outs[1])
    assert np.array_equal(outs[0], outs[2])
    idx = data.find(struct.pack("<HHI", 293, 4, 1))
    assert idx > 0
    # Uncompressed mode (bit 1) stays gated by name; bit 0 (2D) is
    # SUPPORTED since late r13 — covered below, no longer a gate.
    bad = bytearray(data)
    struct.pack_into("<I", bad, idx + 8, 2)
    with pytest.raises(ValueError, match="T4Options"):
        TC.decode_tiff(bytes(bad))
    # Corruption totality: mutated G3 bytes raise ValueError or decode
    # to a well-formed bitmap — never crash, hang, or over-allocate.
    good = CC.g3_encode(bm)
    for i in range(0, len(good), 2):
        mutated = bytearray(good)
        mutated[i] ^= 0xFF
        try:
            out = CC.g3_decode(bytes(mutated), 37, 6)
            assert out.shape == (6, 37)
        except ValueError:
            pass

    # G3 TWO-dimensional (T4Options bit 0, r13): EOL + tag bit frames
    # 1D resync lines every k-th and G4-mode 2D lines between; round
    # trips across k and alignment, decodes identically to 1D through
    # TIFF, a 2D-tagged FIRST line rejects (no reference row), and
    # corrupt streams stay total.
    for k in (1, 2, 4, 7):
        for align in (False, True):
            bm2 = (rng.random((11, 29)) < 0.45).astype(np.uint8)
            data = CC.g3_2d_encode(bm2, k=k, eol_align=align)
            assert np.array_equal(CC.g3_2d_decode(data, 29, 11), bm2), \
                (k, align)
    img2 = ((rng.random((13, 21)) < 0.5) * 255).astype(np.uint8)
    one_d = TC.decode_tiff(TC.encode_tiff(img2, bilevel=True,
                                          compression="g3"))
    two_d = TC.decode_tiff(TC.encode_tiff(img2, bilevel=True,
                                          compression="g3_2d",
                                          rows_per_strip=4))
    assert np.array_equal(one_d, two_d)
    from spreadsheet_etl_engine_spark.functions.ccitt_g4 import (
        _EOL, _BitWriter,
    )

    bw = _BitWriter()
    bw.write(*_EOL)
    bw.write(0, 1)                               # tag: 2D on line 0
    bw.write(1, 1)
    with pytest.raises(ValueError, match="1D-coded line"):
        CC.g3_2d_decode(bw.flush(), 8, 1)
    good2 = CC.g3_2d_encode(bm, k=2)
    for i in range(0, len(good2), 2):
        mutated = bytearray(good2)
        mutated[i] ^= 0xFF
        try:
            out = CC.g3_2d_decode(bytes(mutated), 37, 6)
            assert out.shape == (6, 37)
        except ValueError:
            pass

    # r14 (r13 ADVICE): real-world leniency.  Many Compression=3
    # writers omit the EOL before the FIRST line of a strip, and
    # minimum-scan-time padding can far exceed byte-alignment fill —
    # both now decode; mid-stream framing stays strict.
    bm3 = (rng.random((4, 17)) < 0.4).astype(np.uint8)
    bw = _BitWriter()
    for y in range(4):
        if y > 0:
            bw.write(*_EOL)
        CC._encode_1d_line(bw, CC._transitions(bm3[y]), 17)
    assert np.array_equal(CC.g3_decode(bw.flush(), 17, 4), bm3)
    # 600 zero fill bits before every EOL (T.4's longest standard MSLT,
    # 40 ms at 14400 bit/s, is 576 bits — the old 75-bit cap rejected
    # in-scope files).
    bw = _BitWriter()
    for y in range(4):
        bw.write(0, 600)
        bw.write(*_EOL)
        CC._encode_1d_line(bw, CC._transitions(bm3[y]), 17)
    assert np.array_equal(CC.g3_decode(bw.flush(), 17, 4), bm3)
    # ...but a mid-stream zero run beyond any real fill is corrupt,
    # loud, and bounded (the first line's EOL probe rewinds instead,
    # so the runaway guard fires on later lines).
    bw = _BitWriter()
    bw.write(*_EOL)
    CC._encode_1d_line(bw, CC._transitions(bm3[0]), 17)
    with pytest.raises(ValueError, match="runaway zero fill"):
        CC.g3_decode(bw.flush() + b"\x00" * 600, 17, 4)
    # 2D: with the first EOL omitted there is no tag bit either — the
    # first line is bare 1D data (T.4 requires it 1D-coded anyway).
    bw = _BitWriter()
    for y in range(4):
        if y == 0:
            CC._encode_1d_line(bw, CC._transitions(bm3[y]), 17)
        else:
            bw.write(*_EOL)
            bw.write(1, 1)
            CC._encode_1d_line(bw, CC._transitions(bm3[y]), 17)
    assert np.array_equal(CC.g3_2d_decode(bw.flush(), 17, 4), bm3)


def test_jpeg_in_tiff():
    """r13: new-style JPEG-in-TIFF (Compression=7) — every strip is an
    independent JPEG stream decoded by our own codec.  Self-contained
    strips round-trip exactly against the per-strip JPEG composition
    (lossy vs the input, deterministic vs the codec), multi-page and
    probe/count work, a hand-built file with shared JPEGTables (tag
    347, abbreviated streams) splices and decodes, and the gated
    variants (tiled, planar, photometric-2) reject by name."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import jpeg_codec as JC
    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    rng = np.random.default_rng(1304)
    for ch in (1, 3):
        for rps in (None, 4):
            shape = (13, 17) if ch == 1 else (13, 17, ch)
            img = rng.integers(0, 256, shape).astype(np.uint8)
            data = TC.encode_tiff(img, compression="jpeg",
                                  rows_per_strip=rps)
            got = TC.decode_tiff(data)
            im3 = img if ch > 1 else img[:, :, None]
            parts = []
            for y0 in range(0, 13, rps or 13):
                rows = im3[y0:y0 + (rps or 13)]
                parts.append(JC.decode_jpeg(JC.encode_jpeg(
                    rows if ch > 1 else rows[:, :, 0],
                    quality=85, subsampling="444")))
            want = np.concatenate(parts)
            assert np.array_equal(got, want), (ch, rps)
            assert TC.probe_tiff_dims(data) == (17, 13)
    pages = [rng.integers(0, 256, (9, 11, 3)).astype(np.uint8)
             for _ in range(3)]
    data = TC.encode_tiff(pages, compression="jpeg")
    assert TC.count_tiff_pages(data) == 3
    assert len(TC.decode_tiff_pages(data)) == 3
    # r14 (r13 ADVICE): photometric-6 pages must carry an explicit
    # YCbCrSubSampling (530) = 1,1 — the tag's absent-default is 2x2,
    # so strict readers honoring it over the per-strip SOF would halve
    # the chroma grid of our 4:4:4 streams.  Inline SHORTx2 entry.
    assert data.find(struct.pack("<HHIHH", 530, 3, 2, 1, 1)) > 0
    # Grayscale JPEG pages are photometric 1 — no subsampling tag.
    gray = TC.encode_tiff(pages[0][:, :, 0], compression="jpeg")
    assert gray.find(struct.pack("<HHI", 530, 3, 2)) < 0

    # Hand-built one-strip file with shared JPEGTables (tag 347):
    # split a full stream into an abbreviated tables stream (DQT/DHT)
    # and a tables-less image stream, as libtiff writes them.
    img = rng.integers(0, 256, (6, 8, 3)).astype(np.uint8)
    full = JC.encode_jpeg(img, quality=85, subsampling="444")
    pos = 2
    tbl_segs, img_segs = [], []
    while pos < len(full):
        marker = full[pos + 1]
        if marker == 0xDA:
            img_segs.append(full[pos:len(full) - 2])
            break
        seglen = struct.unpack_from(">H", full, pos + 2)[0]
        seg = full[pos:pos + 2 + seglen]
        (tbl_segs if marker in (0xDB, 0xC4) else img_segs).append(seg)
        pos += 2 + seglen
    tables = b"\xff\xd8" + b"".join(tbl_segs) + b"\xff\xd9"
    strip = b"\xff\xd8" + b"".join(img_segs) + b"\xff\xd9"

    def entry(tag, ttype, count, val4):
        return struct.pack("<HHI", tag, ttype, count) + val4

    data_off = 8
    tbl_off = data_off + len(strip)
    ifd_off = tbl_off + len(tables)
    n = 9
    bits_off = ifd_off + 2 + n * 12 + 4
    ifd = struct.pack("<H", n)
    ifd += entry(256, 3, 1, struct.pack("<HH", 8, 0))
    ifd += entry(257, 3, 1, struct.pack("<HH", 6, 0))
    ifd += entry(258, 3, 3, struct.pack("<I", bits_off))
    ifd += entry(259, 3, 1, struct.pack("<HH", 7, 0))
    ifd += entry(262, 3, 1, struct.pack("<HH", 6, 0))
    ifd += entry(273, 4, 1, struct.pack("<I", data_off))
    ifd += entry(277, 3, 1, struct.pack("<HH", 3, 0))
    ifd += entry(279, 4, 1, struct.pack("<I", len(strip)))
    ifd += entry(347, 7, len(tables), struct.pack("<I", tbl_off))
    ifd += struct.pack("<I", 0)
    arrays = struct.pack("<3H", 8, 8, 8)
    tiff = (b"II*\x00" + struct.pack("<I", ifd_off) + strip + tables
            + ifd + arrays)
    assert np.array_equal(TC.decode_tiff(tiff), JC.decode_jpeg(full))

    # Tiled JPEG (late r13 — the Cloud-Optimized-GeoTIFF layout):
    # full-sized tiles, each a self-contained stream, edges cropped.
    timg = rng.integers(0, 256, (19, 29, 3)).astype(np.uint8)
    tdata = TC.encode_tiff(timg, compression="jpeg", tile=(16, 8))
    padded = np.zeros((24, 32, 3), dtype=np.uint8)
    padded[:19, :29] = timg
    twant = np.zeros((24, 32, 3), dtype=np.uint8)
    for ty in range(3):
        for tx in range(2):
            t = padded[ty * 8:(ty + 1) * 8, tx * 16:(tx + 1) * 16]
            twant[ty * 8:(ty + 1) * 8, tx * 16:(tx + 1) * 16] = \
                JC.decode_jpeg(JC.encode_jpeg(t, quality=85,
                                              subsampling="444"))
    assert np.array_equal(TC.decode_tiff(tdata), twant[:19, :29])

    # Gated variants reject by name.
    with pytest.raises(ValueError, match="planar"):
        TC.encode_tiff(pages[0], compression="jpeg", planar=True)
    with pytest.raises(ValueError, match="8-bit gray or RGB"):
        TC.encode_tiff(pages[0].astype(np.uint16), compression="jpeg")
    with pytest.raises(ValueError, match="8-bit gray or RGB"):
        TC.encode_tiff(np.dstack([pages[0], pages[0][:, :, :1]]),
                       compression="jpeg")
    bad = bytearray(tiff)
    # photometric 2 (raw RGB components) stays gated
    pidx = tiff.find(struct.pack("<HHI", 262, 3, 1))
    struct.pack_into("<H", bad, pidx + 8, 2)
    with pytest.raises(ValueError, match="photometric 2"):
        TC.decode_tiff(bytes(bad))


def test_ccitt_g4_codec_and_tiff_integration(spark):
    """r12: CCITT Group 4 (T.6 MMR) — the fax/book-scan compression.
    Spec-derived bit vectors (an all-white row is ONE V0 bit; a known
    all-black page assembles from individually-known T.4 codes),
    round-trip fuzz over scan-shaped bitmaps, make-up-code widths past
    2560, corruption totality, and Compression=4 TIFFs through the
    Spark pipeline."""
    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import ccitt_g4 as G4
    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    # Hand-derived spec vectors, independent of the transcribed tables'
    # self-consistency (the all-black one uses white-0 = 00110101 and
    # black-8 = 000101 directly from T.4).
    enc = G4.g4_encode(np.zeros((3, 8), np.uint8))
    bits = ''.join(f'{b:08b}' for b in enc)
    assert bits.startswith('111' + '000000000001' * 2)
    enc = G4.g4_encode(np.ones((3, 8), np.uint8))
    bits = ''.join(f'{b:08b}' for b in enc)
    assert bits.startswith(
        '001' + '00110101' + '000101' + '11' + '11' + '000000000001' * 2)

    rng = np.random.default_rng(1220)
    for trial in range(60):
        h, w = int(rng.integers(1, 16)), int(rng.integers(1, 70))
        bm = (rng.random((h, w)) < rng.choice([0.05, 0.3, 0.7])
              ).astype(np.uint8)
        assert np.array_equal(G4.g4_decode(G4.g4_encode(bm), w, h), bm)
    for w in (100, 1800, 3000, 5200):        # make-up + ext-make-up runs
        bm = np.zeros((3, w), np.uint8)
        bm[1] = 1
        bm[2, 10:w - 7] = 1
        assert np.array_equal(G4.g4_decode(G4.g4_encode(bm), w, 3), bm)

    good = G4.g4_encode((rng.random((10, 40)) < 0.3).astype(np.uint8))
    for _ in range(300):
        b = bytearray(good)
        b[int(rng.integers(len(b)))] = int(rng.integers(256))
        try:
            G4.g4_decode(bytes(b), 40, 10)
        except (ValueError, IndexError):
            pass                              # fail-loud, catchable only

    # Compression=4 TIFF: strips reset the reference row; pixels equal
    # the uncompressed twin; G4 beats PackBits on text-like scans.
    text = np.zeros((60, 400), np.uint8)
    for _ in range(40):
        r = int(rng.integers(60))
        c0 = int(rng.integers(380))
        text[r, c0:c0 + int(rng.integers(3, 20))] = 255
    g4t = TC.encode_tiff(text, compression="g4", bilevel=True,
                         rows_per_strip=7)
    assert np.array_equal(
        TC.decode_tiff(g4t),
        TC.decode_tiff(TC.encode_tiff(text, bilevel=True)))
    # Single-strip apples-to-apples (per-strip EOFB + strip-table
    # overhead dominates at rows_per_strip=7): G4 beats PackBits on
    # text-shaped scans.
    assert len(TC.encode_tiff(text, compression="g4", bilevel=True)) < \
        len(TC.encode_tiff(text, compression="packbits", bilevel=True))
    with pytest.raises(ValueError, match="bilevel"):
        TC.encode_tiff(text, compression="g4")

    # Modified Huffman (Compression=2): the 1D legacy fax coding —
    # byte-aligned rows of alternating T.4 run codes.
    for _ in range(20):
        h, w = int(rng.integers(1, 12)), int(rng.integers(1, 60))
        bm = (rng.random((h, w)) < 0.3).astype(np.uint8)
        assert np.array_equal(G4.mh_decode(G4.mh_encode(bm), w, h), bm)
    mh = TC.encode_tiff(text, compression="mh", bilevel=True,
                        rows_per_strip=9)
    assert np.array_equal(TC.decode_tiff(mh),
                          TC.decode_tiff(TC.encode_tiff(text, bilevel=True)))

    # Through the Arrow pipeline: a multi-page G4 scan document.
    pages = [(rng.random((12, 30)) < 0.3).astype(np.uint8) * 255
             for _ in range(3)]
    doc = TC.encode_tiff(pages, compression="g4", bilevel=True)
    media = spark.createDataFrame([(1, "video", doc, 0)], MM.MEDIA_SCHEMA)
    dec = MM.decode_media(media).collect()[0]
    assert (dec["width"], dec["height"], dec["n_frames"]) == (30, 12, 3)
    sampled = {r["frame_idx"]: r for r in
               MM.decode_sampled_frames(media, every_k=2).collect()}
    assert sorted(sampled) == [0, 2]
    from spreadsheet_etl_engine_spark.functions import media_codecs as MC
    got0 = MC.decode_png(bytes(sampled[0]["frame_png"]))
    assert np.array_equal(got0[:, :, 0], np.where(pages[0] > 0, 255, 0))


def test_tiff_tiled_and_bigtiff():
    """r12: the tiled organization (geospatial/OCR layout) round-trips
    at 8/16-bit across compressions with per-tile predictor restarts
    and zero-padded edge tiles; BigTIFF (magic 43, 8-byte offsets,
    LONG8 values) decodes through every entry point."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    rng = np.random.default_rng(1221)
    for dtype, maxv in ((np.uint8, 256), (np.uint16, 65536)):
        img = rng.integers(0, maxv, (33, 47, 3)).astype(dtype)
        for comp in ("none", "lzw", "packbits"):
            for pred in (False, True):
                if pred and comp != "lzw":
                    continue
                data = TC.encode_tiff(img, compression=comp,
                                      predictor=pred, tile=(16, 16))
                got = TC.decode_tiff(data)
                assert got.dtype == dtype and np.array_equal(got, img), \
                    (str(dtype), comp, pred)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (20, 30)).astype(np.uint8)
    got = TC.decode_tiff(TC.encode_tiff(idx, palette=pal,
                                        compression="lzw", tile=(16, 16)))
    assert np.array_equal(got, pal[idx])
    # Bilevel tiled (r13 — was a named gate through mid-r13): every
    # compression incl. the CCITT family, per-tile bit grids, zero-
    # padded edges cropped.
    for comp in ("none", "lzw", "packbits", "g4", "mh", "g3", "g3_2d"):
        bm = ((rng.random((19, 29)) < 0.5) * 255).astype(np.uint8)
        data = TC.encode_tiff(bm, bilevel=True, compression=comp,
                              tile=(8, 8))
        want = ((bm >= 128) * 255).astype(np.uint8)[:, :, None]
        assert np.array_equal(TC.decode_tiff(data), want), comp

    # Hand-built little-endian BigTIFF: 3x2 gray, LONG8 strip offsets.
    px = bytes([1, 2, 3, 4, 5, 6])
    def entry(tag, ttype, count, val8):
        return struct.pack("<HHQ", tag, ttype, count) + val8
    n = 7
    ifd = struct.pack("<Q", n)
    ifd += entry(256, 3, 1, struct.pack("<HHI", 3, 0, 0))
    ifd += entry(257, 3, 1, struct.pack("<HHI", 2, 0, 0))
    ifd += entry(258, 3, 1, struct.pack("<HHI", 8, 0, 0))
    ifd += entry(259, 3, 1, struct.pack("<HHI", 1, 0, 0))
    ifd += entry(262, 3, 1, struct.pack("<HHI", 1, 0, 0))
    data_off = 16 + 8 + n * 20 + 8
    ifd += entry(273, 16, 1, struct.pack("<Q", data_off))
    ifd += entry(279, 16, 1, struct.pack("<Q", 6))
    ifd += struct.pack("<Q", 0)
    big = b"II" + struct.pack("<HHHQ", 43, 8, 0, 16) + ifd + px
    assert np.array_equal(TC.decode_tiff(big)[:, :, 0],
                          [[1, 2, 3], [4, 5, 6]])
    assert TC.probe_tiff_dims(big) == (3, 2)
    assert TC.count_tiff_pages(big) == 1
    with pytest.raises(ValueError, match="malformed BigTIFF"):
        TC.decode_tiff(b"II" + struct.pack("<HHHQ", 43, 4, 0, 16))

    # r12 ADVICE (medium): BigTIFF must SNIFF as tiff in both byte
    # orders — tiff_codec decodes it through every entry point, but a
    # sniffer that only knows magic 42 made decode_media/extract_features
    # silently treat BigTIFF as corrupt.
    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    assert MC.sniff(big) == "tiff"
    assert MC.sniff(b"MM\x00+" + b"\x00" * 12) == "tiff"
    assert MC.sniff(b"MM\x00*" + b"\x00" * 12) == "tiff"
    # ...and through the Spark decode path: the hand-built BigTIFF row
    # decodes to real dims instead of the corrupt-row NULL contract.
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        media = spark.createDataFrame([(1, "image", big, 0)],
                                      MM.MEDIA_SCHEMA)
        row = MM.decode_media(media).collect()[0]
        assert (row["width"], row["height"]) == (3, 2)


def test_wav_advice_fixes():
    """r12 ADVICE (low x2): a 24-bit data chunk whose size is not a
    whole number of 3-byte frames fails loud instead of silently
    dropping trailing bytes, and encode_wav emits the RIFF word-
    alignment pad after an odd-length data chunk body (excluded from
    the chunk size, included in the RIFF size)."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    wave = (np.sin(np.arange(11) * 0.3) * (2**30)).astype(np.int32)
    pcm24 = MC.encode_wav(wave, 8000, bits=24)
    # Corrupt the data-chunk size to a non-multiple of 3.
    idx = pcm24.index(b"data") + 4
    size = struct.unpack_from("<I", pcm24, idx)[0]
    bad = pcm24[:idx] + struct.pack("<I", size - 1) + pcm24[idx + 4:]
    with pytest.raises(ValueError, match="3-byte frame"):
        MC.decode_wav(bad)
    # Stereo: the frame is 6 bytes, so a size that IS a multiple of 3
    # but not of 6 must also fail loud.
    st = MC.encode_wav(np.repeat(wave, 2).reshape(-1, 2), 8000, bits=24)
    sidx = st.index(b"data") + 4
    ssize = struct.unpack_from("<I", st, sidx)[0]
    sbad = (st[:sidx] + struct.pack("<I", ssize - 3) + st[sidx + 4:])
    with pytest.raises(ValueError, match="6-byte frame"):
        MC.decode_wav(sbad)

    # Odd data-chunk bodies: PCM8 mono, 11 samples -> 11-byte body.
    u8 = MC.encode_wav(np.arange(11, dtype=np.uint8), 8000)
    assert len(u8) % 2 == 0 and u8[-1] == 0          # padded, zero pad
    didx = u8.index(b"data") + 4
    assert struct.unpack_from("<I", u8, didx)[0] == 11   # size excludes pad
    assert struct.unpack_from("<I", u8, 4)[0] == len(u8) - 8  # RIFF incl.
    arr, rate = MC.decode_wav(u8)
    assert np.array_equal(arr[:, 0], np.arange(11)) and rate == 8000
    # PCM24 mono odd count: 33-byte body -> same contract.
    assert len(pcm24) % 2 == 0 and pcm24[-1] == 0
    assert struct.unpack_from("<I", pcm24, idx)[0] == 33
    back, _ = MC.decode_wav(pcm24)
    assert np.array_equal(back[:, 0], wave & ~0xFF)
    # Even-length bodies stay pad-free (byte-stability for fixtures).
    ev = MC.encode_wav(np.arange(12, dtype=np.uint8), 8000)
    assert struct.unpack_from("<I", ev, ev.index(b"data") + 4)[0] == 12
    assert len(ev) - (ev.index(b"data") + 8) == 12


def test_tiff_planar_configuration_2():
    """r13 (r12 verdict Next 7): PlanarConfiguration 2 — per-component
    strip runs (scientific imagery) — round-trips at 8/16-bit across
    gray/RGB/RGBA, compressions, strip heights (incl. short edge
    strips), and multi-page; the predictor differences WITHIN each
    plane; a hand-built big-endian planar fixture pins the decoder
    against our own writer's conventions; the still-gated planar
    variants (tiled, CCITT) fail loud by name."""
    import struct

    import numpy as np
    import pytest

    from spreadsheet_etl_engine_spark.functions import tiff_codec as TC

    rng = np.random.default_rng(1301)
    for dtype, maxv in ((np.uint8, 256), (np.uint16, 65536)):
        for ch in (1, 3, 4):
            for comp in ("none", "lzw", "packbits"):
                for pred in (False, True):
                    if pred and comp != "lzw":
                        continue
                    for rps in (None, 5):
                        shape = (13, 9) if ch == 1 else (13, 9, ch)
                        img = rng.integers(0, maxv, shape).astype(dtype)
                        data = TC.encode_tiff(
                            img, compression=comp, predictor=pred,
                            rows_per_strip=rps, planar=True)
                        got = TC.decode_tiff(data)
                        want = img if ch > 1 else img[:, :, None]
                        assert got.dtype == dtype
                        assert np.array_equal(got, want), \
                            (str(dtype), ch, comp, pred, rps)
    pages = [rng.integers(0, 256, (7, 11, 3)).astype(np.uint8)
             for _ in range(3)]
    data = TC.encode_tiff(pages, compression="lzw", predictor=True,
                          planar=True)
    got = TC.decode_tiff_pages(data)
    assert len(got) == 3
    assert all(np.array_equal(g, p) for g, p in zip(got, pages))
    assert TC.probe_tiff_dims(data) == (11, 7)
    assert TC.count_tiff_pages(data) == 3

    # Hand-built BIG-ENDIAN planar RGB 3x2: plane-major strips, one
    # strip per plane (decoder convention independence).
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    plane_bytes = [img[:, :, s].tobytes() for s in range(3)]
    n = 9
    data_off = 8
    body = b"".join(plane_bytes)                   # 3 planes x 6 bytes
    ifd_off = data_off + len(body)
    off_pos = ifd_off + 2 + n * 12 + 4             # arrays after the IFD

    def entry(tag, ttype, count, val4):
        return struct.pack(">HHI", tag, ttype, count) + val4

    ifd = struct.pack(">H", n)
    ifd += entry(256, 3, 1, struct.pack(">HH", 3, 0))
    ifd += entry(257, 3, 1, struct.pack(">HH", 2, 0))
    ifd += entry(258, 3, 3, struct.pack(">I", off_pos))   # 3x SHORT 8
    ifd += entry(259, 3, 1, struct.pack(">HH", 1, 0))
    ifd += entry(262, 3, 1, struct.pack(">HH", 2, 0))
    ifd += entry(273, 4, 3, struct.pack(">I", off_pos + 6))
    ifd += entry(277, 3, 1, struct.pack(">HH", 3, 0))
    ifd += entry(279, 4, 3, struct.pack(">I", off_pos + 18))
    ifd += entry(284, 3, 1, struct.pack(">HH", 2, 0))
    ifd += struct.pack(">I", 0)
    arrays = struct.pack(">3H", 8, 8, 8)
    arrays += struct.pack(">3I", data_off, data_off + 6, data_off + 12)
    arrays += struct.pack(">3I", 6, 6, 6)
    big = b"MM\x00*" + struct.pack(">I", ifd_off) + body + ifd + arrays
    assert np.array_equal(TC.decode_tiff(big), img)

    # Still-gated planar variants fail loud by name.
    with pytest.raises(ValueError, match="planar"):
        TC.encode_tiff(pages[0], planar=True, tile=(8, 8))
    with pytest.raises(ValueError, match="planar"):
        TC.encode_tiff((pages[0][:, :, 0] > 128).astype(np.uint8) * 255,
                       bilevel=True, compression="g4", planar=True)
    # Decoder: planar + tile tags together reject BY NAME (r13 ADVICE:
    # the named rejection was previously unexercised).  Our writer
    # refuses to emit the combination, so hand-build the minimal
    # little-endian IFD that reaches the check: dims + spp=3 +
    # PlanarConfiguration=2 + a TileWidth tag.
    def le_entry(tag, ttype, count, val4):
        return struct.pack("<HHI", tag, ttype, count) + val4

    bad_ifd = struct.pack("<H", 5)
    bad_ifd += le_entry(256, 3, 1, struct.pack("<HH", 8, 0))
    bad_ifd += le_entry(257, 3, 1, struct.pack("<HH", 8, 0))
    bad_ifd += le_entry(277, 3, 1, struct.pack("<HH", 3, 0))
    bad_ifd += le_entry(284, 3, 1, struct.pack("<HH", 2, 0))
    bad_ifd += le_entry(322, 3, 1, struct.pack("<HH", 8, 0))
    bad_ifd += struct.pack("<I", 0)
    planar_tiled = b"II*\x00" + struct.pack("<I", 8) + bad_ifd
    with pytest.raises(ValueError,
                       match="tiled planar-configuration-2"):
        TC.decode_tiff(planar_tiled)
    # Truncation keeps failing loud too (out-of-bounds strip).
    short = TC.encode_tiff(pages[0], planar=True)
    with pytest.raises(ValueError):
        TC.decode_tiff(short[: len(short) - len(short) // 3])


def test_netpbm_p5_p4_variants(spark):
    """r12: the PPM family's gray (P5) and bitmap (P4) siblings — the
    raw formats OCR corpora carry.  P4 bits are 1=black per spec and
    decode to 0/255 gray; the gray/RGB/bitmap renderings of the same
    image embed identically through to_rgb."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    rng = np.random.default_rng(1222)
    g = rng.integers(0, 256, (9, 14), dtype=np.uint8)
    p5 = MC.encode_ppm(g)
    assert p5.startswith(b"P5") and MC.sniff(p5) == "ppm"
    got = MC.decode_ppm(p5)
    assert got.shape == (9, 14, 1) and np.array_equal(got[:, :, 0], g)

    bm = rng.integers(0, 2, (11, 19)).astype(np.uint8)
    p4 = MC.encode_pbm(bm)
    assert p4.startswith(b"P4") and MC.sniff(p4) == "ppm"
    got = MC.decode_ppm(p4)
    assert got.shape == (11, 19, 1)
    assert np.array_equal(got[:, :, 0], (1 - bm) * 255)  # 1=black -> 0

    rows = [
        (1, "image", MC.encode_ppm(np.repeat(g[:, :, None], 3, axis=2)), 0),
        (2, "image", p5, 0),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert all((dec[m]["width"], dec[m]["height"]) == (14, 9) for m in (1, 2))
    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    assert all(len(v) == MM.FEATURE_DIM for v in feats.values())
    assert np.allclose(feats[1], feats[2], atol=1e-6)  # RGB == gray-replicated
    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=7, height=4).collect()}
    assert resized[2].startswith(b"P5")                # gray stays gray
    assert MC.decode_ppm(resized[2]).shape == (4, 7, 1)


def test_avi_codec_roundtrip_and_probes():
    """r15: AVI — the real RIFF video container.  DIB streams round-trip
    bit-exact with the closed-form byte size the generative oracle
    recomputes; MJPEG streams carry one standalone JFIF per frame and
    only the requested frames entropy-decode on the sampled path; the
    structures real muxers emit (JUNK, 'rec ' grouping, non-video
    streams, RIFF pad bytes) demux; everything else rejects by name."""
    import struct

    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    nf, h, w = 5, 6, 9
    frames = ((np.arange(nf * h * w * 3).reshape(nf, h, w, 3) * 7) % 256
              ).astype(np.uint8)

    # DIB: sniff routes, closed-form size, bit-exact round trip.
    dib = MC.encode_avi(frames, codec="dib")
    stride = (3 * w + 3) // 4 * 4
    assert MC.sniff(dib) == "avi"
    assert len(dib) == 232 + nf * (24 + h * stride)
    assert MC.probe_avi_dims(dib) == (w, h)
    assert MC.probe_avi_codec(dib) == "dib"
    assert MC.count_avi_frames(dib) == nf
    assert all(np.array_equal(d, f)
               for d, f in zip(MC.decode_avi(dib), frames))

    # MJPEG: probes + bounded reconstruction error + sampled decode
    # returns exactly the requested present frames in order.
    mj = MC.encode_avi(frames, codec="mjpeg", quality=90)
    assert MC.probe_avi_codec(mj) == "mjpeg"
    assert (MC.probe_avi_dims(mj), MC.count_avi_frames(mj)) == ((w, h), nf)
    full = MC.decode_avi(mj)
    assert len(full) == nf
    err = np.abs(full[0].astype(int) - frames[0].astype(int)).mean()
    assert err < 12.0, err
    some = MC.decode_avi(mj, indices=[3, 0, 99])
    assert len(some) == 2                      # 99 is out of range
    assert np.array_equal(some[0], full[0])
    assert np.array_equal(some[1], full[3])

    # Determinism: byte-identical re-encode (the driver hash relies on
    # synth_media being a pure function of the row index).
    assert MC.encode_avi(frames, codec="mjpeg", quality=90) == mj

    # Demux tolerance: JUNK before hdrl, a 'rec ' grouping LIST around
    # the first two frames, an odd-sized foreign chunk (pad byte), and
    # an 'auds' stream occupying stream 0 so video chunk ids are 01xx.
    def chunk(cc, payload):
        return cc + struct.pack("<I", len(payload)) + payload \
            + (b"\x00" if len(payload) % 2 else b"")

    def lst(fourcc, payload):
        return chunk(b"LIST", fourcc + payload)

    # re-extract the exact on-disk DIB payloads from the clean file
    pay = []
    pos = dib.find(b"movi") + 4
    for _ in range(nf):
        size = struct.unpack_from("<I", dib, pos + 4)[0]
        pay.append(dib[pos + 8:pos + 8 + size])
        pos += 8 + size + size % 2
    avih = struct.pack("<10I", 100000, 0, 0, 0x10, nf, 0, 2,
                       max(len(p) for p in pay), w, h) + b"\x00" * 16
    strh_a = struct.pack("<4s4sIHHIIIIIIiI4H", b"auds", b"\x00" * 4,
                         0, 0, 0, 0, 1, 8000, 0, 0, 0, -1, 1, 0, 0, 0, 0)
    strf_a = struct.pack("<HHIIHHH", 1, 1, 8000, 8000, 1, 8, 0)
    strh_v = struct.pack("<4s4sIHHIIIIIIiI4H", b"vids", b"DIB ",
                         0, 0, 0, 0, 1, 10, 0, nf,
                         max(len(p) for p in pay), -1, 0, 0, 0, w, h)
    strf_v = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                         h * stride, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a))
               + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v)))
    movi_inner = (lst(b"rec ", chunk(b"01db", pay[0]) + chunk(b"01db", pay[1]))
                  + chunk(b"zzzz", b"\x01\x02\x03")       # odd: pad byte
                  + b"".join(chunk(b"01db", p) for p in pay[2:]))
    body = chunk(b"JUNK", b"\x00" * 10) + hdrl + lst(b"movi", movi_inner)
    messy = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    assert MC.probe_avi_dims(messy) == (w, h)
    assert MC.count_avi_frames(messy) == nf
    assert all(np.array_equal(d, f)
               for d, f in zip(MC.decode_avi(messy), frames))

    # Named rejections — every failure mode says what and why.
    with pytest.raises(ValueError, match="RIFF"):
        MC.decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="overruns"):
        MC.decode_avi(dib[:40])
    with pytest.raises(ValueError, match="XVID"):
        MC.decode_avi(mj.replace(b"MJPG", b"XVID"))
    with pytest.raises(ValueError, match="no video"):
        no_vids = b"RIFF" + struct.pack("<I", len(hdrl2 := lst(
            b"hdrl", chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh_a)
                  + chunk(b"strf", strf_a)))) + 4) + b"AVI " + hdrl2
        MC.probe_avi_dims(no_vids)
    with pytest.raises(ValueError, match="codec must be"):
        MC.encode_avi(frames, codec="h264")
    with pytest.raises(ValueError, match="at least one frame"):
        MC.encode_avi([])
    with pytest.raises(ValueError, match="one size"):
        MC.encode_avi([frames[0], frames[1][:4]])
    with pytest.raises(ValueError, match="frame rate"):
        MC.encode_avi(frames, fps=0)
    # DIB depth: patch biBitCount 24 -> 16 in the strf.
    i16 = dib.find(struct.pack("<IiiHH", 40, w, h, 1, 24))
    bad_depth = dib[:i16 + 14] + struct.pack("<H", 16) + dib[i16 + 16:]
    with pytest.raises(ValueError, match="depth 16"):
        MC.decode_avi(bad_depth)
    # Truncated DIB frame payload: named, not a numpy reshape error.
    short = bytearray(dib)
    p0 = dib.find(b"00db")
    struct.pack_into("<I", short, p0 + 4, 8)  # lie: frame is 8 bytes
    with pytest.raises(ValueError, match="truncated|overruns"):
        MC.decode_avi(bytes(short))


def test_avi_through_spark_pipeline(spark):
    """r15: the AVI rows end-to-end through every multimodal kernel —
    decode (probe dims + movi frame walk), first-frame features with
    the exact dim slots, resize preserving the stream flavor and frame
    count, and the sampled-frame path decoding only kept frames."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    nf, h, w = 6, 8, 10
    frames = ((np.arange(nf * h * w * 3).reshape(nf, h, w, 3) * 3) % 256
              ).astype(np.uint8)
    rows = [
        (1, "video", MC.encode_avi(frames, codec="dib"), 0),
        (2, "video", MC.encode_avi(frames, codec="mjpeg"), 0),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)

    dec = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    for m in (1, 2):
        assert (dec[m]["width"], dec[m]["height"], dec[m]["n_frames"]) \
            == (w, h, nf)

    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_features(media).collect()}
    for m in (1, 2):
        # slots 7/8 are w/4096, h/4096 — the first-frame image path.
        assert feats[m][6] == pytest.approx(w / 4096.0)
        assert feats[m][7] == pytest.approx(h / 4096.0)
    # DIB features are computed on exact pixels: match a direct BMP of
    # frame 0.
    bmp_row = spark.createDataFrame(
        [(3, "image", MC.encode_bmp(frames[0]), 0)], MM.MEDIA_SCHEMA)
    f_bmp = MM.extract_features(bmp_row).collect()[0]["feature"]
    assert np.allclose(feats[1], f_bmp, atol=1e-6)

    resized = {r["media_id"]: bytes(r["data"])
               for r in MM.resize_images(media, width=4, height=2).collect()}
    for m, flavor in ((1, "dib"), (2, "mjpeg")):
        assert MC.sniff(resized[m]) == "avi"
        assert MC.probe_avi_codec(resized[m]) == flavor  # flavor kept
        assert MC.probe_avi_dims(resized[m]) == (4, 2)
        assert MC.count_avi_frames(resized[m]) == nf
    # DIB resize is exact nearest-neighbor: compare against the kernel.
    want = MC.resize_nearest(frames[0], 4, 2)
    assert np.array_equal(MC.decode_avi(resized[1], indices=[0])[0], want)

    sampled = MM.decode_sampled_frames(media, every_k=2)
    got = {(r["media_id"], r["frame_idx"]): r for r in sampled.collect()}
    assert {k for k in got} == {(m, i) for m in (1, 2)
                               for i in range(0, nf, 2)}
    for (m, i), r in got.items():
        assert (r["width"], r["height"]) == (w, h)
        if m == 1:  # DIB frames re-encode losslessly to PNG
            assert np.array_equal(
                MC.decode_png(bytes(r["frame_png"])), frames[i])


def test_xlsx_corrupt_container_named_errors(tmp_path):
    """r15 review pass 15: the xlsx READ path's error surface is
    ValueError with the reason named — corrupt containers must never
    escape as BadZipFile / ParseError (a SyntaxError subclass!) /
    IndexError / KeyError, and a corrupt row/cell reference must fail
    loud at Excel's own grid caps instead of allocating an arbitrarily
    large padded grid (the media codecs' fail-loud-not-OOM class)."""
    import zipfile

    from spreadsheet_etl_engine_spark.sources import xlsx_native as X

    # Not a ZIP at all.
    notzip = tmp_path / "fake.xlsx"
    notzip.write_bytes(b"this is not a zip file")
    with pytest.raises(ValueError, match="not a ZIP container"):
        X.read_workbook(str(notzip))
    with pytest.raises(ValueError, match="not a ZIP container"):
        X.sheet_names(str(notzip))

    # A ZIP missing the workbook part.
    partless = tmp_path / "partless.xlsx"
    with zipfile.ZipFile(partless, "w") as zf:
        zf.writestr("hello.txt", "hi")
    with pytest.raises(ValueError, match="missing required part"):
        X.read_workbook(str(partless))

    def build(sheet_xml: str, shared: str | None = None,
              workbook: str | None = None) -> str:
        """Minimal workbook around a given sheet1.xml payload."""
        p = tmp_path / f"t{abs(hash((sheet_xml, shared)))}.xlsx"
        with zipfile.ZipFile(p, "w") as zf:
            zf.writestr("[Content_Types].xml", X._content_types(1))
            zf.writestr("_rels/.rels", X._ROOT_RELS)
            zf.writestr(
                "xl/workbook.xml", workbook or (
                    '<workbook xmlns="%s" xmlns:r="%s"><sheets>'
                    '<sheet name="S" sheetId="1" r:id="rId1"/>'
                    "</sheets></workbook>" % (X.SHEET_NS, X.REL_NS)))
            zf.writestr("xl/_rels/workbook.xml.rels", X._workbook_rels(1))
            zf.writestr("xl/styles.xml", X._STYLES)
            if shared is not None:
                zf.writestr("xl/sharedStrings.xml", shared)
            zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
        return str(p)

    ns = X.SHEET_NS

    # Malformed sheet XML.
    with pytest.raises(ValueError, match="not well-formed XML"):
        X.read_workbook(build("<worksheet><unclosed"))

    # Hostile row reference: must be the named grid-cap error, not a
    # billion-entry list allocation.
    sheet = ('<worksheet xmlns="%s"><sheetData>'
             '<row r="999999999"><c r="A999999999" t="inlineStr">'
             "<is><t>x</t></is></c></row>"
             "</sheetData></worksheet>" % ns)
    with pytest.raises(ValueError, match="row reference.*exceeds"):
        X.read_workbook(build(sheet))

    # Hostile column reference, same class.
    sheet = ('<worksheet xmlns="%s"><sheetData>'
             '<row r="1"><c r="ZZZZ1" t="inlineStr">'
             "<is><t>x</t></is></c></row>"
             "</sheetData></worksheet>" % ns)
    with pytest.raises(ValueError, match="column grid"):
        X.read_workbook(build(sheet))

    # Shared-string index out of range / negative / non-numeric — all
    # the named table error ('-1' must NOT silently read the last
    # entry via Python's end-relative indexing).
    shared = ('<sst xmlns="%s" count="1" uniqueCount="1">'
              "<si><t>only</t></si></sst>" % ns)
    for bad in ("7", "-1", "zz"):
        sheet = ('<worksheet xmlns="%s"><sheetData>'
                 '<row r="1"><c r="A1" t="s"><v>%s</v></c></row>'
                 "</sheetData></worksheet>" % (ns, bad))
        with pytest.raises(ValueError, match="shared string"):
            X.read_workbook(build(sheet, shared=shared))
    # In-range shared strings still read (control for the loop above).
    sheet = ('<worksheet xmlns="%s"><sheetData>'
             '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
             '<row r="2"><c r="A2" t="s"><v>0</v></c></row>'
             "</sheetData></worksheet>" % ns)
    header, rows, _ = X.read_workbook(build(sheet, shared=shared))
    assert header == ["only"] and rows == [["only"]]

    # Dangling sheet relationship: named, not a KeyError deep in zf.read.
    wb = ('<workbook xmlns="%s" xmlns:r="%s"><sheets>'
          '<sheet name="S" sheetId="1" r:id="rId99"/>'
          "</sheets></workbook>" % (X.SHEET_NS, X.REL_NS))
    with pytest.raises(ValueError, match="relationship"):
        X.read_workbook(build(
            '<worksheet xmlns="%s"><sheetData/></worksheet>' % ns,
            workbook=wb))

    # Corrupt r=0: sequential fallback, not grid[-1] row merging.
    sheet = ('<worksheet xmlns="%s"><sheetData>'
             '<row r="0"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>'
             '<row><c t="inlineStr"><is><t>d</t></is></c></row>'
             "</sheetData></worksheet>" % ns)
    header, rows, _ = X.read_workbook(build(sheet))
    assert header == ["h"] and rows == [["d"]]


def test_zorder_infinity_and_zkey_collision(spark, tmp_path):
    """r15 review pass 16: (a) a single ±Inf row must not collapse a
    z-order dimension into constant bits — the auto-range excludes
    non-finite values (the NaN fix's other door), Inf rows clamp into
    the edge buckets; (b) a user column literally named _zkey must
    survive write_zordered instead of being overwritten by the helper
    key and dropped from the files; (c) a caller-supplied infinite
    range is degenerate (skipped), not a NULL-key poison."""
    import math

    rows = [(float(i), float(i % 7), i) for i in range(64)]
    rows.append((float("inf"), 3.0, 999))
    rows.append((float("-inf"), 4.0, 998))
    rows.append((float("nan"), 5.0, 997))
    df = spark.createDataFrame(rows, "x double, y double, _zkey long")

    # (a) the x dimension still spreads finite rows across buckets.
    key_col = W.zorder_key(df, ["x", "y"], bits=4)
    keyed = {r["_zkey"]: r["k"] for r in df.withColumn("k", key_col).collect()}
    finite_keys = {keyed[i] for i in range(64)}
    assert len(finite_keys) > 8, "Inf row collapsed the z-order range"
    # Inf rows clamp to edge buckets (not NULL -> 0-everything).
    assert keyed[999] == max(keyed[i] for i in range(64)) or keyed[999] > 0

    # (b) the user's _zkey column survives the write byte-for-byte.
    out = str(tmp_path / "zord_user_zkey")
    W.write_zordered(df, out, zorder_by=["x", "y"], n_files=4)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"x", "y", "_zkey"}
    got = sorted(r["_zkey"] for r in back.collect())
    assert got == sorted(r[2] for r in rows)

    # (c) caller-supplied infinite range: dimension skipped by the
    # degenerate guard, the other dimension still orders.
    key2 = W.zorder_key(df, ["x", "y"], bits=4,
                        ranges={"x": (0.0, float("inf"))})
    vals = [r["k2"] for r in df.withColumn("k2", key2).collect()]
    assert all(v is not None for v in vals)
    assert len(set(vals)) > 1


def test_property_avi_roundtrip_and_totality():
    """r15: Hypothesis fuzz over the AVI surface — arbitrary frame
    counts/dims round-trip bit-exact through DIB (and the closed-form
    size holds for every shape); MJPEG keeps dims/counts and stays
    within DCT error; random byte mutations of a valid file stay
    inside the totality contract's catchable set (ValueError /
    IndexError / struct.error — never a numpy shape error or a hang)."""
    import struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    @settings(max_examples=40, deadline=None)
    @given(nf=st.integers(1, 7), h=st.integers(1, 20), w=st.integers(1, 28),
           seed=st.integers(0, 2**31), mjpeg=st.booleans())
    def roundtrip(nf, h, w, seed, mjpeg):
        rng = np.random.default_rng(seed)
        frames = rng.integers(0, 256, (nf, h, w, 3), dtype=np.uint8)
        data = MC.encode_avi(frames, codec="mjpeg" if mjpeg else "dib")
        assert MC.sniff(data) == "avi"
        assert MC.probe_avi_dims(data) == (w, h)
        assert MC.count_avi_frames(data) == nf
        out = MC.decode_avi(data)
        assert len(out) == nf
        if mjpeg:
            # Random noise is JPEG's worst case; bound the error
            # loosely — the pins here are shape and frame identity.
            assert all(o.shape == (h, w, 3) for o in out)
        else:
            stride = (3 * w + 3) // 4 * 4
            assert len(data) == 232 + nf * (24 + h * stride)
            assert all(np.array_equal(o, f) for o, f in zip(out, frames))
            # Sampled decode pairs the right frames.
            some = MC.decode_avi(data, indices=[nf - 1, 0])
            assert np.array_equal(some[0], frames[0])
            assert np.array_equal(some[-1], frames[nf - 1])

    roundtrip()

    @settings(max_examples=40, deadline=None)
    @given(seed=st.integers(0, 2**31), nmut=st.integers(1, 6),
           mjpeg=st.booleans())
    def totality(seed, nmut, mjpeg):
        rng = np.random.default_rng(seed)
        frames = rng.integers(0, 256, (3, 9, 13, 3), dtype=np.uint8)
        data = bytearray(MC.encode_avi(
            frames, codec="mjpeg" if mjpeg else "dib"))
        for pos in rng.integers(0, len(data), nmut):
            data[pos] ^= int(rng.integers(1, 256))
        try:
            out = MC.decode_avi(bytes(data))
            assert all(o.ndim == 3 for o in out)
        except (ValueError, IndexError, struct.error):
            pass

    totality()


def test_avi_audio_stream_mux_demux():
    """r15: the AVI 'auds' stream — interleaved PCM16 chunks round-trip
    bit-exact (mono + stereo, including remainder-sample splits and
    ns < nf), the video stream is unaffected (frame count/walk ignore
    '01wb' chunks and the no-audio byte layout is unchanged — the
    fixture's closed form still holds), and non-PCM16 shapes reject by
    name on both sides."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    nf, h, w = 4, 6, 9
    frames = ((np.arange(nf * h * w * 3).reshape(nf, h, w, 3) * 7) % 256
              ).astype(np.uint8)
    t = np.arange(333)
    stereo = np.stack([np.sin(t * 0.1) * 20000,
                       np.cos(t * 0.13) * 15000], 1).astype(np.int16)

    # No audio: byte layout (and the oracle's closed form) unchanged.
    plain = MC.encode_avi(frames, codec="dib")
    stride = (3 * w + 3) // 4 * 4
    assert len(plain) == 232 + nf * (24 + h * stride)
    assert not MC.has_avi_audio(plain)
    with pytest.raises(ValueError, match="no audio"):
        MC.decode_avi_audio(plain)

    # Stereo A/V through both video codecs: audio exact, video intact.
    for codec in ("dib", "mjpeg"):
        av = MC.encode_avi(frames, codec=codec, audio=stereo,
                           audio_rate=22050)
        assert MC.has_avi_audio(av)
        assert MC.count_avi_frames(av) == nf
        assert MC.probe_avi_dims(av) == (w, h)
        back, rate = MC.decode_avi_audio(av)
        assert rate == 22050 and np.array_equal(back, stereo)
        if codec == "dib":
            assert all(np.array_equal(a, b)
                       for a, b in zip(MC.decode_avi(av), frames))

    # Mono 1-D input, fewer samples than frames (empty early chunks).
    tiny = MC.encode_avi(frames, codec="dib",
                         audio=np.arange(3, dtype=np.int16))
    back, rate = MC.decode_avi_audio(tiny)
    assert back.shape == (3, 1) and back[:, 0].tolist() == [0, 1, 2]
    assert rate == 16000

    # Named rejections: wrong dtype in, compressed audio out.
    with pytest.raises(ValueError, match="int16 PCM"):
        MC.encode_avi(frames, audio=np.zeros(5, dtype=np.float32))
    with pytest.raises(ValueError, match="rate must be positive"):
        MC.encode_avi(frames, audio=stereo, audio_rate=0)
    import struct as _struct
    av = MC.encode_avi(frames, codec="dib", audio=stereo)
    mut = bytearray(av)
    p = av.find(_struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16))
    assert p > 0
    mut[p:p + 2] = _struct.pack("<H", 2)      # wFormatTag=2 (MS ADPCM)
    with pytest.raises(ValueError, match="format tag=2"):
        MC.decode_avi_audio(bytes(mut))


def test_decode_media_composes_with_structured_streaming(spark, tmp_path):
    """r15: the multimodal kernels are STREAM-composable — the ingest
    shape a production pipeline uses (files land, a readStream picks
    them up, the same Arrow-batched mapInPandas decodes them
    incrementally).  decode_media is stateless, so it must plug into a
    file stream unchanged and produce exactly the batch result across
    multiple micro-batches."""
    media = MM.synth_media(spark, 48, real=True)
    src = str(tmp_path / "media_in")
    media.repartition(4).write.mode("overwrite").parquet(src)

    batch = {r["media_id"]: r for r in
             MM.decode_media(spark.read.parquet(src)).collect()}

    stream = (
        spark.readStream.schema(MM.MEDIA_SCHEMA)
        .option("maxFilesPerTrigger", 1)      # force several micro-batches
        .parquet(src)
    )
    q = (
        MM.decode_media(stream)
        .writeStream.format("memory").queryName("media_decoded")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    streamed = {r["media_id"]: r for r in
                spark.sql("select * from media_decoded").collect()}
    assert set(streamed) == set(batch)
    for mid, row in batch.items():
        got = streamed[mid]
        assert (got["width"], got["height"], got["n_frames"],
                got["n_bytes"], got["payload_hash"]) == (
            row["width"], row["height"], row["n_frames"],
            row["n_bytes"], row["payload_hash"]), mid


def test_avi_top_down_dib():
    """r15 review follow-up: negative biHeight = top-down DIB rows (the
    BITMAPINFOHEADER convention decode_bmp already honors).  A top-down
    AVI must decode to the SAME pixels as its bottom-up twin — before
    the sign was threaded through, it came back vertically flipped
    (silent wrong output, the worst class)."""
    import struct

    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    nf, h, w = 3, 5, 7
    frames = ((np.arange(nf * h * w * 3).reshape(nf, h, w, 3) * 11) % 256
              ).astype(np.uint8)
    up = MC.encode_avi(frames, codec="dib")

    # Build the top-down twin: flip biHeight's sign in strf (and avih
    # dwHeight stays positive — only strf carries the convention), and
    # reverse each frame payload's row order.
    strf_pat = struct.pack("<IiiHH", 40, w, h, 1, 24)
    sp = up.find(strf_pat)
    assert sp > 0
    down = bytearray(up)
    down[sp + 8:sp + 12] = struct.pack("<i", -h)
    stride = (w * 3 + 3) & ~3
    pos = up.find(b"movi") + 4
    for _ in range(nf):
        size = struct.unpack_from("<I", up, pos + 4)[0]
        body = np.frombuffer(up[pos + 8:pos + 8 + size], dtype=np.uint8)
        flipped = body.reshape(h, stride)[::-1].tobytes()
        down[pos + 8:pos + 8 + size] = flipped
        pos += 8 + size + size % 2
    down = bytes(down)

    assert MC.probe_avi_dims(down) == (w, h)        # dims still positive
    assert MC.count_avi_frames(down) == nf
    got = MC.decode_avi(down)
    assert all(np.array_equal(g, f) for g, f in zip(got, frames)), \
        "top-down DIB decoded flipped"
