"""Idempotent upsert, the external-process pipe stage, and the
multimodal decode plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from echem_dft_etl_spark.operators import echem, multimodal
from echem_dft_etl_spark.operators.dedup import first_wins_dedup
from echem_dft_etl_spark.operators.pipe import pipe_map, pipe_solver_stub
from tests.conftest import SF_SMOKE


def test_first_wins_dedup_idempotent(spark):
    df = spark.createDataFrame(
        [("k1", 1, "a"), ("k1", 2, "b"), ("k2", 5, "c"), ("k2", 3, "d"), ("k3", 9, "e")],
        "key string, seq int, payload string",
    )
    once = first_wins_dedup(df, ["key"], "seq")
    got = {(r.key, r.seq, r.payload, r.n_copies) for r in once.collect()}
    # First writer (lowest seq) wins — the reference's ON CONFLICT DO
    # NOTHING semantics (my_dag.py:201).
    assert got == {("k1", 1, "a", 2), ("k2", 3, "d", 2), ("k3", 9, "e", 1)}
    twice = first_wins_dedup(once.drop("n_copies"), ["key"], "seq")
    assert sorted(
        (r.key, r.seq) for r in twice.collect()
    ) == sorted((r.key, r.seq) for r in once.collect())


def test_upsert_against_existing_is_idempotent(spark):
    incoming = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "mp_id string, pzc double"
    )
    existing = spark.createDataFrame([("b", 99.0)], "mp_id string, pzc double")
    inserted = incoming.join(existing.select("mp_id"), "mp_id", "left_anti")
    table = existing.unionByName(inserted)
    assert {(r.mp_id, r.pzc) for r in table.collect()} == {
        ("a", 1.0), ("b", 99.0), ("c", 3.0)  # existing row b untouched
    }
    # Re-running the same batch inserts nothing.
    again = incoming.join(table.select("mp_id"), "mp_id", "left_anti")
    assert again.count() == 0


def test_pipe_solver_stub(spark):
    runs = spark.createDataFrame(
        [("r1", -0.1), ("r2", 0.0), ("r3", 0.1)], "run_id string, charge double"
    )
    got = {r.run_id: (r.mu, r.ne) for r in pipe_solver_stub(runs).collect()}
    assert got["r2"] == (-0.2, 250.0)
    assert got["r1"] == pytest.approx((-0.205, 249.0))
    assert got["r3"] == pytest.approx((-0.195, 251.0))


def test_pipe_solver_stub_keeps_run_ids_with_spaces(spark):
    # A whitespace-split protocol returned run_id 'UNITED' with the
    # charge misread as 0 (mu -0.2, ne 250.0).
    runs = spark.createDataFrame(
        [("UNITED KINGDOM_-0.1", -0.1), ("a  b_0.1", 0.1)],
        "run_id string, charge double",
    )
    got = {r.run_id: (r.mu, r.ne) for r in pipe_solver_stub(runs).collect()}
    assert set(got) == {"UNITED KINGDOM_-0.1", "a  b_0.1"}
    assert got["UNITED KINGDOM_-0.1"] == pytest.approx((-0.205, 249.0))
    assert got["a  b_0.1"] == pytest.approx((-0.195, 251.0))
    tabbed = spark.createDataFrame([("a\tb", 0.0)], "run_id string, charge double")
    with pytest.raises(Exception, match="holds a tab or a newline"):
        pipe_solver_stub(tabbed).collect()


def test_pipe_map_refuses_a_line_count_mismatch(spark):
    df = spark.createDataFrame([("x",), ("y",)], "v string").coalesce(1)
    doubled = pipe_map(
        df,
        ["awk", "{ print; print }"],  # two lines per input row
        "v string",
    )
    with pytest.raises(Exception, match="returned 4 lines for a batch of 2 rows"):
        doubled.collect()


def test_pipe_failure_raises(spark):
    df = spark.createDataFrame([("x",)], "v string")
    bad = pipe_map(
        df,
        ["false"],  # exits 1 immediately
        "v string",
    )
    with pytest.raises(Exception, match="(?i)pipe command|failed"):
        bad.collect()


def test_pipe_solver_stub_runs_in_the_jvm(spark):
    # The child is started by the executor JVM's script transform: no
    # Python worker runs for the solver stage.
    runs = spark.createDataFrame(
        [("r1", -0.1), ("r2", 0.0)], "run_id string, charge double"
    )
    solved = pipe_solver_stub(runs)
    solved.collect()
    plan = solved._jdf.queryExecution().executedPlan().toString()
    assert "SparkScriptTransformation" in plan
    for python_exec in (
        "MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython"
    ):
        assert python_exec not in plan


def test_pipe_refuses_a_line_that_is_not_a_fillings_line(spark):
    runs = spark.createDataFrame([("r1", 0.0)], "run_id string, charge double")
    solved = pipe_map(
        runs,
        ["awk", "-F\\t", '{ printf "%s\\tconverged\\n", $1 }'],
        "run_id string, fillings string",
    )
    with pytest.raises(Exception, match="not a FillingsUpdate line: converged"):
        echem.parse_fillings(solved).collect()


def test_multimodal_decode_real_bmp(spark):
    """decode_batch must read geometry and features from the payload
    BYTES: the builder writes a valid BMP, the decoder unpacks its
    actual header, and the feature is a sum over the pixel array at the
    offset the header declares."""
    docs = spark.createDataFrame(
        [(7, "hello world"), (8, "abc")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in multimodal.decode_batch(
        multimodal.build_bmp_payload(docs)
    ).collect()}
    w7, h7 = (7 % 4 + 1) * 4, (7 % 3 + 1) * 4
    assert out[7].format == "image/bmp"
    assert (out[7].width, out[7].height) == (w7, h7)
    assert out[7].n_bytes == 54 + w7 * h7 * 3
    src = b"hello world"
    pixels = (src * (w7 * h7 * 3 // len(src) + 1))[: w7 * h7 * 3]
    assert out[7].feature_sum == sum(pixels[:64])
    # python-side reference parse agrees with the distributed decode
    local = multimodal.decode_bmp(multimodal.bmp_bytes(w7, h7, src))
    assert (local["width"], local["height"]) == (w7, h7)
    # a non-BMP payload is reported, not crashed on
    bad = multimodal.decode_bmp(b"not an image")
    assert bad["format"] == "unknown" and bad["width"] is None


def test_multimodal_wav_roundtrip():
    """wav_bytes → parse_wav_header must round-trip the header fields
    and derive the sample count from the data chunk size."""
    from echem_dft_etl_spark.operators.multimodal import (
        parse_wav_header,
        wav_bytes,
    )

    hdr = parse_wav_header(wav_bytes(b"0123456789a"))  # 11 bytes -> 5 samples
    assert hdr == {
        "rate": 16000,
        "channels": 1,
        "bits": 16,
        "n_samples": 5,
        "data_offset": 44,
    }
    assert parse_wav_header(b"RIFFxxxxJUNK") is None


def test_multimodal_payload_prunable(spark):
    """A query not touching the payload must not read it from the scan
    — the property that makes opaque-binary columns viable at 100 TB."""
    from echem_dft_etl_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    narrow = multimodal.attach_binary_payload(docs).select("doc_id", "meta.width")
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan.split("ReadSchema:")[-1][:200]


def test_resize_handles_corrupt_and_padded_bmp(spark):
    """A truncated header-lies payload must be skipped (not crash the
    task), and a width whose row needs BMP 4-byte padding must resize
    on the padded stride, not the naive w*3."""
    from echem_dft_etl_spark.operators.multimodal import (
        bmp_bytes,
        resize_bmp_batch,
    )

    # w=6 -> row stride 20 (18 pixel bytes + 2 pad); build by hand
    import struct as _s

    w, h = 6, 4
    stride = (w * 3 + 3) // 4 * 4
    pix = bytes(range(1, 1 + w * 3)) + b"\xee\xee"  # one padded row
    rows = pix * h
    padded = (
        _s.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
        + _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
        + rows
    )
    truncated = bmp_bytes(8, 8, b"abc")[:100]  # header claims 8x8, bytes cut
    df = spark.createDataFrame(
        [(1, padded), (2, truncated), (3, b"junk")],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in resize_bmp_batch(df, factor=2).collect()}
    assert set(got) == {1}  # corrupt payloads skipped, no crash
    r = got[1]
    assert (r.old_w, r.old_h, r.new_w, r.new_h) == (6, 4, 3, 2)
    # resized pixels: rows 0,2 cols 0,2,4 of the UNPADDED 18-byte rows —
    # pad bytes (0xee) must not leak into the checksum
    row_px = list(range(1, 19))
    want = sum(row_px[c * 3 + k] for c in (0, 2, 4) for k in range(3)) * 2
    assert r.pixel_checksum == want, (r.pixel_checksum, want)


def test_png_roundtrip_and_unfilter():
    """The PNG decoder must run the real inverse pipeline (inflate →
    unfilter), not echo the encoder: a Sub- and an Up-filtered stream
    hand-built here must reconstruct the same pixels as the encoder's
    filter-0 output, and corrupt/unsupported payloads must degrade to
    the unknown row, never raise."""
    import struct
    import zlib

    from echem_dft_etl_spark.operators import multimodal

    w, h = 4, 4
    src = bytes(range(48))  # w*h*3 = 48 distinct pixel bytes
    d0 = multimodal.decode_png(multimodal.png_bytes(w, h, src))
    assert (d0["format"], d0["width"], d0["height"]) == ("image/png", w, h)
    assert d0["n_pixel_bytes"] == 48 and d0["feature_sum"] == sum(src[:48])

    def png_with_filters(ftype: int) -> bytes:
        stride = w * 3
        rows, prev = [], bytearray(stride)
        for r in range(h):
            row = src[r * stride : (r + 1) * stride]
            if ftype == 1:  # Sub-encode: subtract left RGB neighbor
                enc = bytearray(row)
                for i in range(stride - 1, 2, -1):
                    enc[i] = (enc[i] - enc[i - 3]) & 0xFF
            elif ftype == 2:  # Up-encode: subtract the row above
                enc = bytearray((row[i] - prev[i]) & 0xFF for i in range(stride))
            else:
                enc = bytearray(row)
            rows.append(bytes([ftype]) + bytes(enc))
            prev = bytearray(row)
        raw = b"".join(rows)

        def chunk(tag, body):
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    for ftype in (1, 2):
        d = multimodal.decode_png(png_with_filters(ftype))
        assert d["feature_sum"] == sum(src[:48]), (ftype, d)
        assert d["n_pixel_bytes"] == 48

    assert multimodal.decode_image(b"garbage")["format"] == "unknown"
    assert multimodal.decode_image(
        multimodal.bmp_bytes(4, 4, src)
    )["format"] == "image/bmp"

    # Degrade-to-unknown on MALFORMED payloads that carry the PNG
    # magic — each would formerly raise out of the decoder and kill
    # the whole mapInPandas task:
    good = png_with_filters(0)
    hostile = [
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0d" + b"IHDR" + b"\x01\x02",
        # corrupt IDAT (zlib.error)
        good.replace(zlib.compress(b"".join(
            bytes([0]) + src[r * 12 : (r + 1) * 12] for r in range(h)
        )), b"\x00" * 20, 1),
        # short decompressed stream (IndexError in the unfilter)
        (b"\x89PNG\r\n\x1a\n"
         + good[8:8 + 25]  # reuse the real IHDR chunk
         + struct.pack(">I", len(zlib.compress(b"\x00\x01\x02"))) + b"IDAT"
         + zlib.compress(b"\x00\x01\x02") + b"\x00\x00\x00\x00"),
        # unsupported filter type 4 / Paeth (ValueError)
        (b"\x89PNG\r\n\x1a\n"
         + good[8:8 + 25]
         + (lambda body: struct.pack(">I", len(body)) + b"IDAT" + body
            + b"\x00\x00\x00\x00")(
                zlib.compress(b"".join(
                    b"\x04" + src[r * 12 : (r + 1) * 12] for r in range(h)
                )))),
    ]
    for i, payload in enumerate(hostile):
        d = multimodal.decode_png(payload)
        assert d["format"] == "unknown", (i, d)


def test_y4m_roundtrip_and_degrade():
    """The Y4M sampler must parse the real stream structure (header
    tags, FRAME markers, plane boundaries) and malformed payloads must
    degrade to zero frames, never raise."""
    from echem_dft_etl_spark.operators import multimodal

    w, h, nf = 4, 4, 3
    src = bytes(range(256))
    v = multimodal.parse_y4m(multimodal.y4m_bytes(w, h, nf, src))
    assert v is not None and (v["width"], v["height"]) == (w, h)
    assert len(v["frames"]) == nf
    plane = w * h
    filled = (src * (nf * plane // len(src) + 1))[: nf * plane]
    for i in range(nf):
        assert v["frames"][i] == filled[i * plane : (i + 1) * plane], i

    # 420 subsampled plane accounting (default colorspace, no C tag)
    head = b"YUV4MPEG2 W4 H4\n"
    plane420 = 4 * 4 + 2 * (2 * 2)
    ok = multimodal.parse_y4m(head + b"FRAME\n" + bytes(plane420))
    assert ok is not None and len(ok["frames"]) == 1

    hostile = [
        b"",                                        # no newline
        b"NOTY4M W4 H4\n" + b"FRAME\n" + bytes(16),  # wrong magic
        b"YUV4MPEG2 W4 Cmono\n" + b"FRAME\n",        # missing H tag
        b"YUV4MPEG2 W4 H4 Cmono\nFRAME\n" + bytes(7),  # truncated frame
        b"YUV4MPEG2 W4 H4 Cmono\nGARBO\n" + bytes(16),  # bad marker
        b"YUV4MPEG2 Wx H4 Cmono\nFRAME\n" + bytes(16),  # non-int W
        b"YUV4MPEG2 W4 H4 C999\nFRAME\n" + bytes(16),   # unknown cspace
        multimodal.y4m_bytes(4, 4, 2, b"abc")[:-3],     # cut mid-frame
    ]
    for i, payload in enumerate(hostile):
        assert multimodal.parse_y4m(payload) is None, i


def test_ahash_planted_twin_is_exact_dup(spark):
    """A twin document re-encoded under a geometry-preserving id offset
    must produce the identical perceptual hash, and the pair join must
    surface it."""
    from echem_dft_etl_spark.operators.multimodal import (
        ahash_batch,
        ahash_bmp,
        bmp_bytes,
        build_bmp_payload,
    )

    # unit: identical pixels → identical hash; one flipped pixel in a
    # flat image flips the thresholded bit pattern
    base = bmp_bytes(8, 8, b"spark-graft rocks")
    assert ahash_bmp(base) == ahash_bmp(bytes(base))
    flat = bmp_bytes(8, 8, bytes([5] * 192))
    hot = bytearray(flat)
    hot[54] = 255  # first pixel byte
    assert ahash_bmp(flat) != ahash_bmp(bytes(hot))

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (7, "other text body here")],
        "doc_id bigint, text string",
    )
    twins = docs.filter(F.col("doc_id") == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1200000)
    )
    hs = ahash_batch(build_bmp_payload(docs.unionByName(twins)))
    vals = {r["doc_id"]: r["ahash"] for r in hs.collect()}
    assert vals[0] == vals[1200000]
    assert all(v >= 0 for v in vals.values()), "hash must stay positive int64"


def test_ahash_corrupt_payload_is_null_not_bucketed(spark):
    """Corrupt payloads must hash to NULL (dropped by the pair join),
    never to a shared sentinel that would pair all corrupt images."""
    from echem_dft_etl_spark.operators.multimodal import (
        ahash_batch,
        ahash_bmp,
    )

    assert ahash_bmp(b"") is None
    assert ahash_bmp(b"NOTABMP" * 20) is None
    df = spark.createDataFrame(
        [(1, bytearray(b"garbage")), (2, bytearray(b"also garbage"))],
        "doc_id bigint, payload binary",
    )
    hs = ahash_batch(df)
    assert [r["ahash"] for r in hs.collect()] == [None, None]
    a, b = hs.alias("a"), hs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.ahash") == F.col("b.ahash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    assert pairs.count() == 0


def test_audio_fingerprint_twin_and_corrupt_contract(spark):
    """Same samples → same fingerprint; louder-next-frame bit rule
    matches a hand computation; malformed/short payloads are null."""
    import struct

    from echem_dft_etl_spark.operators.multimodal import (
        audio_fingerprint,
        wav_bytes,
    )

    # hand-built: frame0 quiet (8 samples of +1), frame1 loud (+100),
    # frame2 quiet again -> bits = [1 (louder), 0] -> hash 0b01 = 1
    samples = [1] * 8 + [100] * 8 + [1] * 8
    payload = wav_bytes(struct.pack("<24h", *samples))
    assert audio_fingerprint(payload) == 1

    text = b"alpha beta gamma delta epsilon zeta eta theta!"
    assert audio_fingerprint(wav_bytes(text)) == audio_fingerprint(
        wav_bytes(bytes(text))
    )
    assert audio_fingerprint(b"") is None
    assert audio_fingerprint(b"RIFFxxxxWAVEgarbage") is None
    # fewer than 2 full frames (3 samples) -> no delta bits -> null
    assert audio_fingerprint(wav_bytes(struct.pack("<3h", 1, 2, 3))) is None


def test_ahash_mixed_valid_corrupt_batch_keeps_precision(spark):
    """A batch mixing a valid image with a corrupt payload must not
    alter the valid image's hash: without dtype='object' pandas
    coerces [int, None] to float64 and 62-bit hashes lose low bits."""
    from echem_dft_etl_spark.operators.multimodal import (
        ahash_batch,
        ahash_bmp,
        bmp_bytes,
    )

    # pixels chosen so the hash is 2**61 + 1: above float64's 53-bit
    # integer window AND with a low bit set, so any float round-trip
    # changes the value.
    px = bytearray(192)
    px[0] = 255
    px[61] = 255
    payload = bmp_bytes(8, 8, bytes(px))
    expect = ahash_bmp(payload)
    assert expect == (1 << 61) | 1
    assert float(expect) != expect or int(float(expect)) != expect

    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"garbage"))],
        "doc_id bigint, payload binary",
    ).coalesce(1)  # one Arrow batch: the mixed case under test
    vals = {r["doc_id"]: r["ahash"] for r in ahash_batch(df).collect()}
    assert vals == {1: expect, 2: None}


def test_wav_extra_chunk_before_data_fingerprints_samples(spark):
    """A WAV with a LIST chunk between fmt and data is valid RIFF; the
    fingerprint must read samples at the data chunk's real offset, not
    byte 44 — otherwise chunk metadata is fingerprinted as audio."""
    import struct

    from echem_dft_etl_spark.operators.multimodal import (
        audio_fingerprint,
        parse_wav_header,
        wav_bytes,
    )

    samples = [1] * 8 + [100] * 8 + [1] * 8
    data = struct.pack("<24h", *samples)
    plain = wav_bytes(data)
    # splice a LIST chunk between 'fmt ' (ends at byte 36) and 'data'
    list_chunk = struct.pack("<4sI", b"LIST", 10) + b"INFOartist"
    extra = (
        struct.pack("<4sI4s", b"RIFF", 36 + len(list_chunk) + len(data), b"WAVE")
        + plain[12:36]          # fmt chunk unchanged
        + list_chunk
        + plain[36:]            # data chunk header + samples
    )

    hdr = parse_wav_header(extra)
    assert hdr is not None and hdr["n_samples"] == 24
    assert hdr["data_offset"] == 44 + len(list_chunk)
    assert parse_wav_header(plain)["data_offset"] == 44
    assert audio_fingerprint(extra) == audio_fingerprint(plain) == 1


def test_scene_cuts_flags_exact_threshold_and_skips_below(spark):
    """y4m_scene_cuts must fire on |Δsum| == delta*plane (inclusive
    bound), stay silent below it, and never emit frame 0 (no previous
    frame). Hand-built 2x2 mono videos pin the integer arithmetic."""
    import struct

    from echem_dft_etl_spark.operators.multimodal import y4m_scene_cuts

    def mono_y4m(frames):
        head = b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\n"
        return head + b"".join(b"FRAME\n" + bytes(f) for f in frames)

    plane = 4
    videos = [
        # doc 1: jump of exactly 5*plane=20 between frames 1->2 (cut),
        # jump of 19 between 0->1 (below threshold, silent)
        (1, mono_y4m([[0, 0, 0, 0], [19, 0, 0, 0], [19, 20, 0, 0]])),
        # doc 2: constant luma — zero cuts
        (2, mono_y4m([[7, 7, 7, 7]] * 3)),
        # doc 3: malformed payload — degrades to zero rows
        (3, b"YUV4MPEG2 W2 H2 Cmono\nFRAME\n\x00"),
    ]
    df = spark.createDataFrame(videos, "doc_id long, payload binary")
    got = {
        (r.doc_id, r.frame_index): r.delta_abs
        for r in y4m_scene_cuts(df, min_mean_delta=5).collect()
    }
    assert got == {(1, 2): 20}
