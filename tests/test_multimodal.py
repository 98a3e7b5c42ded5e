"""Multimodal plumbing: schema, deterministic stub decode, frame
sampling, end-to-end mapInPandas feature extraction."""

import pytest

from debezium_spark.operators.multimodal import (
    decode_stub,
    extract_features,
    frame_sample,
    media_feature_stats_q,
    synthesize_media,
)


def test_decode_stub_deterministic():
    f1 = decode_stub(b"hello world", "image")
    f2 = decode_stub(b"hello world", "image")
    assert f1 == f2 and len(f1) == 8
    assert abs(sum(f1) - 1.0) < 1e-9
    assert decode_stub(None, "image") == []


def test_media_schema(spark, sf_dir):
    m = synthesize_media(spark, sf_dir)
    assert set(m.columns) == {"media_id", "kind", "payload", "meta"}
    kinds = {r["kind"] for r in m.select("kind").distinct().collect()}
    assert kinds <= {"image", "audio", "video"}
    row = m.first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["sample_rate"] == 16000


def test_feature_extraction_end_to_end(spark, sf_dir):
    m = synthesize_media(spark, sf_dir)
    feats = extract_features(m)
    rows = feats.collect()
    assert len(rows) == m.count()
    for r in rows[:5]:
        assert r["payload_bytes"] == 32  # md5 hex as utf-8
        assert len(r["feature"]) == 8


def test_frame_sampling(spark, sf_dir):
    m = synthesize_media(spark, sf_dir)
    fs = frame_sample(m)
    got = fs.groupBy("media_id").count().collect()
    meta = {r["media_id"]: r["meta"]["n_frames"] for r in m.collect()}
    for r in got:
        expect = (meta[r["media_id"]] - 1) // 10 + 1
        assert r["count"] == expect


def test_stats_query_runs(spark, sf_dir):
    out = media_feature_stats_q(spark, sf_dir).collect()
    assert len(out) >= 1


def test_bmp_roundtrip_known_pixels():
    """Hand-check the BMP parser against a tiny image whose pixel
    formula is evaluated independently here (top-down coordinates),
    proving bottom-up row order and 4-byte padding are handled."""
    from debezium_spark.operators.multimodal import decode_bmp, encode_bmp

    doc_id, n_chars = 6, 50   # w = 50%16+4 = 6, h = 50%12+4 = 6
    payload = encode_bmp(doc_id, n_chars)
    assert payload[:2] == b"BM"
    w, h, mean_r, poswt = decode_bmp(payload)
    assert (w, h) == (6, 6)
    exp_total = exp_poswt = 0
    for y in range(h):
        for x in range(w):
            r = (x * 7 + y * 13 + doc_id) % 256
            exp_total += r
            exp_poswt += (y * w + x) * r
    assert mean_r == exp_total / (w * h)
    assert poswt == exp_poswt
    # row size 3*6=18 -> padded to 20: payload length must include pad
    assert len(payload) == 54 + 20 * 6


def test_wav_roundtrip_and_chunk_walk():
    from debezium_spark.operators.multimodal import decode_wav, encode_wav

    doc_id, n_chars = 7, 100  # n = 100%256+16 = 116, sr = 8000+4*500
    payload = encode_wav(doc_id, n_chars)
    n, sr, mean_v, poswt = decode_wav(payload)
    assert (n, sr) == (116, 10000)
    samples = [((i * 37 + doc_id * 11) % 65536) - 32768 for i in range(n)]
    assert mean_v == sum(samples) / n
    assert poswt == sum(i * v for i, v in enumerate(samples))
    # chunk walker must survive an extra chunk before data
    extra = payload[:12] + b"LIST\x04\x00\x00\x00abcd" + payload[12:]
    import struct as _s
    extra = b"RIFF" + _s.pack("<I", len(extra) - 8) + extra[8:]
    assert decode_wav(extra) == (n, sr, mean_v, poswt)


def test_decoders_reject_malformed():
    import pytest

    from debezium_spark.operators.multimodal import decode_bmp, decode_wav

    with pytest.raises(ValueError):
        decode_bmp(b"PNG garbage not a bmp at all padding padding")
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE" + b"\x00" * 40)


def test_media_decode_stats_plan_is_arrow_batched(spark, sf_dir):
    """The decode pipeline must plan as MapInPandas (Arrow batches),
    never BatchEvalPython."""
    from debezium_spark.operators.multimodal import media_decode_stats_q

    plan = (
        media_decode_stats_q(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_dhash_invariances():
    """dHash must be invariant to uniform brightness shifts (the
    point of a difference hash) and sensitive to structural change."""
    from debezium_spark.operators.multimodal import dhash_pixels

    w, h = 12, 9
    base = [[((x * 5 + y * 3) % 200, 0, 0) for x in range(w)] for y in range(h)]
    brighter = [[(r + 50, g, b) for (r, g, b) in row] for row in base]
    flipped = [list(reversed(row)) for row in base]
    h0 = dhash_pixels(w, h, base)
    assert dhash_pixels(w, h, brighter) == h0  # brightness-invariant
    assert dhash_pixels(w, h, flipped) != h0   # structure-sensitive
    assert 0 <= h0 < 1 << 56


def test_decode_bmp_pixels_roundtrip():
    from debezium_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
    )

    doc_id, n_chars = 9, 55  # w=11, h=11
    w, h, rows = decode_bmp_pixels(encode_bmp(doc_id, n_chars))
    assert (w, h) == (11, 11)
    for y in (0, h - 1):
        for x in (0, w - 1):
            exp = (
                (x * 7 + y * 13 + doc_id) % 256,
                (x * 3 + y * 5 + 2 * doc_id) % 256,
                (x * 11 + y + 3 * doc_id) % 256,
            )
            assert rows[y][x] == exp


def test_audio_contour_hash_properties():
    """Gain-invariant (uniform volume change preserves comparisons),
    structure-sensitive, and well-defined for clips shorter than the
    window count (empty windows read as zero energy)."""
    from debezium_spark.operators.multimodal import audio_contour_hash

    base = [((i * 37) % 200) - 100 for i in range(100)]
    doubled = [2 * s for s in base]
    reversed_ = list(reversed(base))
    h0 = audio_contour_hash(base)
    assert audio_contour_hash(doubled) == h0
    assert audio_contour_hash(reversed_) != h0
    assert 0 <= h0 < 1 << 16
    short = audio_contour_hash([5] * 10)  # 10 samples, 17 windows
    assert 0 <= short < 1 << 16


def test_resize_reencode_roundtrip():
    """The resized payload is a genuine BMP: decoding it back yields
    exactly the nearest-neighbor-sampled pixels of the original."""
    from debezium_spark.operators.multimodal import (
        RESIZE_H,
        RESIZE_W,
        decode_bmp_pixels,
        encode_bmp,
        resize_bmp,
    )

    doc_id, n_chars = 12, 123  # w=15, h=7
    original = encode_bmp(doc_id, n_chars)
    w, h, rows = decode_bmp_pixels(original)
    tw, th, trows = decode_bmp_pixels(resize_bmp(original))
    assert (tw, th) == (RESIZE_W, RESIZE_H)
    for j in range(th):
        for i in range(tw):
            assert trows[j][i] == rows[j * h // th][i * w // tw]


@pytest.mark.parametrize("n_chars", [0, 11, 12, 15, 255, 256])
def test_media_law_sql_twins_match_encoders(n_chars):
    """The DuckDB twins of the media law, run through DuckDB, give the
    geometry, pixels, clip, samples and kind the encoders write."""
    import duckdb

    from debezium_spark.operators.multimodal import (
        _wav_samples,
        decode_bmp_pixels,
        encode_bmp,
        encode_wav,
        media_kind,
        sql_media,
        sql_media_kind,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, n_chars BIGINT)")
    for doc_id in (0, 1, 2, 7, 2**31 + 5):
        con.execute("DELETE FROM documents")
        con.execute("INSERT INTO documents VALUES (?, ?)", [doc_id, n_chars])
        w, h, rows = decode_bmp_pixels(encode_bmp(doc_id, n_chars))
        sr, samples = _wav_samples(encode_wav(doc_id, n_chars))
        points = [(x, y) for x in (0, w // 2, w - 1) for y in (0, h // 2, h - 1)]
        pixels = ", ".join(
            "[" + ", ".join(
                sql_media(c, x=str(x), y=str(y)) for c in ("red", "green", "blue")
            ) + "]"
            for x, y in points
        )
        got = con.execute(f"""
            SELECT {sql_media("width")}, {sql_media("height")}, [{pixels}],
                   {sql_media("sample_rate")}, {sql_media_kind()}
            FROM documents
        """).fetchone()
        assert got == (
            w, h, [list(rows[y][x]) for x, y in points], sr, media_kind(doc_id)
        ), doc_id
        got_samples = con.execute(f"""
            SELECT {sql_media("sample")} FROM (
                SELECT doc_id, unnest(range(0, {sql_media("n_samples")})) AS i
                FROM documents)
            ORDER BY i
        """).fetchall()
        assert [v for (v,) in got_samples] == list(samples), doc_id
