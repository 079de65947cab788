"""Multimodal tests: schema, mapInPandas batch shape, real BMP/WAV/AVI
codec round trips, malformed-payload quarantine, and frame sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.operators.multimodal import (
    DECODED_SCHEMA,
    decode_media,
    frame_sample,
    media_table,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def media(spark):
    return media_table(load_table(spark, SF_DIR, "documents")).cache()


def test_media_table_schema_and_types(media):
    assert [f.name for f in media.schema.fields] == [
        "media_id",
        "media_type",
        "payload",
    ]
    assert media.schema["payload"].dataType.typeName() == "binary"
    types = {r.media_type for r in media.select("media_type").distinct().collect()}
    assert types == {"image", "audio", "video"}


def test_malformed_payloads_quarantine_not_raise(media):
    # `media` carries opaque text bytes — not one valid BMP/WAV/AVI among
    # them. Every row must decode to NULL metadata (quarantine), with no
    # worker exception from any codec.
    out = decode_media(media)
    rows = out.collect()
    assert len(rows) == media.count()
    assert all(
        r.width is None and r.height is None and r.n_frames is None
        for r in rows
    )


def test_real_decode_is_deterministic_and_typed(spark):
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        avi_geometry,
        bmp_geometry,
        real_media_table,
        wav_geometry,
    )

    real = real_media_table(load_table(spark, SF_DIR, "documents")).cache()
    out = decode_media(real)
    assert out.schema == DECODED_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == real.count()
    sizes = {r.media_id: r.n for r in real.select(
        "media_id", F.octet_length("payload").alias("n")).collect()}
    for mid, r in rows.items():
        assert r.n_bytes == sizes[mid]
        if r.media_type == "image":
            w, h, _ = bmp_geometry(mid)
            assert (r.width, r.height, r.n_frames) == (w, h, None)
        elif r.media_type == "audio":
            _, n_samples, _ = wav_geometry(mid)
            assert (r.width, r.height, r.n_frames) == (None, None, n_samples)
        else:
            w, h, nf, _ = avi_geometry(mid)
            assert (r.width, r.height, r.n_frames) == (w, h, nf)
    # Determinism: second run identical.
    again = {r.media_id: r for r in decode_media(real).collect()}
    assert rows == again
    real.unpersist()


def test_frame_sample_real_avi_frames(spark):
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        avi_geometry,
        real_media_table,
    )

    real = real_media_table(load_table(spark, SF_DIR, "documents")).cache()
    frames = frame_sample(real, every_n=2)
    rows = frames.collect()
    video_ids = {
        r.media_id
        for r in real.filter(F.col("media_type") == "video").collect()
    }
    assert {r.media_id for r in rows} == video_ids  # every valid AVI yields
    assert all(r.frame_idx % 2 == 0 for r in rows)
    # frame content is the closed-form raster bytes, padding stripped
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, {})[r.frame_idx] = bytes(r.frame)
    for mid, got in list(by_media.items())[:20]:
        w, h, nf, seed = avi_geometry(mid)
        assert sorted(got) == list(range(0, nf, 2))
        for idx, frame in got.items():
            assert len(frame) == 3 * w * h
            assert list(frame) == [
                (seed + 7 * idx + 31 * i) % 256 for i in range(3 * w * h)
            ]
    # malformed video payloads (text bytes) quarantine: zero rows
    assert frame_sample(media_table(load_table(spark, SF_DIR, "documents"))).count() == 0
    real.unpersist()


def test_clickhouse_options_shape():
    from mysql_to_clickhouse_sync_spark.sinks.clickhouse import (
        clickhouse_jdbc_options,
    )

    opts = clickhouse_jdbc_options(
        "jdbc:clickhouse://h:8123/db", "t", batch_size=500, max_connections=4
    )
    assert opts["batchsize"] == "500"
    assert opts["numPartitions"] == "4"
    assert "output_format_decimal_trailing_zeros=1" in opts["custom_http_params"]
    assert opts["isolationLevel"] == "NONE"


def test_codec_quarantine_contract_fuzz():
    """Property: NO byte string may make any decoder raise — malformed
    media quarantines as NULLs. Covers both random bytes and adversarial
    single-byte mutations of valid payloads (header/size field damage)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        avi_frames,
        avi_geometry,
        bmp_geometry,
        decode_avi,
        decode_bmp,
        decode_wav,
        encode_avi,
        encode_bmp,
        encode_wav,
        wav_geometry,
    )

    valid = [
        encode_bmp(*bmp_geometry(5)),
        encode_wav(*wav_geometry(5)),
        encode_avi(*avi_geometry(5)),
    ]

    mutated = st.tuples(
        st.integers(0, 2), st.integers(0, 200), st.integers(0, 255)
    ).map(
        lambda t: (lambda b: b[: t[1] % len(b)]
                   + bytes([t[2]])
                   + b[t[1] % len(b) + 1 :])(valid[t[0]])
    )

    @given(st.one_of(st.binary(max_size=300), mutated))
    @settings(max_examples=200, deadline=None)
    def check(payload):
        assert len(decode_bmp(payload)) == 3
        assert len(decode_wav(payload)) == 3
        assert len(decode_avi(payload)) == 4
        list(avi_frames(payload))

    check()


def test_avi_roundtrip_and_malformed_payloads():
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        avi_frames,
        avi_geometry,
        decode_avi,
        encode_avi,
    )

    w, h, nf, seed = avi_geometry(7)
    payload = encode_avi(w, h, nf, seed)
    dw, dh, dn, psum = decode_avi(payload)
    assert (dw, dh, dn) == (w, h, nf)
    assert psum == sum(
        (seed + 7 * f + 31 * i) % 256
        for f in range(nf)
        for i in range(3 * w * h)
    )
    # sampled frames carry padding-stripped raster bytes
    sampled = dict(avi_frames(payload, every_n=2))
    assert sorted(sampled) == list(range(0, nf, 2))
    assert list(sampled[0][:4]) == [(seed + 31 * i) % 256 for i in range(4)]
    # malformed payloads quarantine as NULLs, never raise
    assert decode_avi(None) == (None, None, None, None)
    assert decode_avi(b"RIFF\x00\x00\x00\x00AVI ") == (None, None, None, None)
    assert decode_avi(payload[:-30]) == (None, None, None, None)  # truncated
    bad = bytearray(payload)
    bad[0:4] = b"XIFF"
    assert decode_avi(bytes(bad)) == (None, None, None, None)  # bad magic
    assert list(avi_frames(b"not an avi")) == []


def test_wav_roundtrip_and_malformed_payloads():
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        wav_geometry,
    )

    rate, n, seed = wav_geometry(42)
    payload = encode_wav(rate, n, seed)
    assert len(payload) == 44 + 2 * n  # canonical header + 16-bit samples
    drate, dn, amp = decode_wav(payload)
    assert (drate, dn) == (rate, n)
    assert amp == sum((seed + 37 * i) % 65536 - 32768 for i in range(n))
    # malformed payloads quarantine as NULLs, never raise
    assert decode_wav(None) == (None, None, None)
    assert decode_wav(b"XXXX" + payload[4:]) == (None, None, None)  # bad magic
    assert decode_wav(payload[:30]) == (None, None, None)  # truncated header
    assert decode_wav(payload[:-10]) == (None, None, None)  # truncated data
    stereo = bytearray(payload)
    stereo[22] = 2  # channels field: claim stereo
    assert decode_wav(bytes(stereo)) == (None, None, None)


def test_bmp_roundtrip_and_malformed_payloads():
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        bmp_geometry,
        decode_bmp,
        encode_bmp,
    )

    w, h, seed = bmp_geometry(42)
    payload = encode_bmp(w, h, seed)
    dw, dh, psum = decode_bmp(payload)
    assert (dw, dh) == (w, h)
    assert psum == sum((seed + 31 * i) % 256 for i in range(3 * w * h))
    # padding must be stripped: a stride-ignorant decoder would add the
    # zero pad bytes (no change) — so ALSO check a payload whose pad bytes
    # are nonzero still yields the padding-free checksum
    stride = ((3 * w + 3) // 4) * 4
    if stride > 3 * w:
        raw = bytearray(payload)
        for row in range(h):
            for p in range(3 * w, stride):
                raw[54 + row * stride + p] = 255
        assert decode_bmp(bytes(raw))[2] == psum
    # malformed payloads quarantine as NULLs, never raise
    assert decode_bmp(None) == (None, None, None)
    assert decode_bmp(b"XX" + payload[2:]) == (None, None, None)  # bad magic
    assert decode_bmp(payload[:40]) == (None, None, None)  # truncated
    bad_bpp = bytearray(payload)
    bad_bpp[28] = 8
    assert decode_bmp(bytes(bad_bpp)) == (None, None, None)


def test_audio_features_match_numpy_recompute(spark):
    """q_audio_features recomputed independently in numpy from the
    synthesis law for a sample of docs: window partition is total and
    ordered, L1/zero-crossing sums exact."""
    import numpy as np

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        AUDIO_WINDOW,
        q_audio_features,
        wav_geometry,
    )

    out = {}
    for r in q_audio_features(spark, SF_DIR).collect():
        out.setdefault(r.media_id, {})[r.window_idx] = r
    assert out, "no feature rows"
    for doc_id in list(out)[:25]:
        _, n, seed = wav_geometry(doc_id)
        s = ((seed + 37 * np.arange(n, dtype=np.int64)) % 65536) - 32768
        wins = out[doc_id]
        assert sorted(wins) == list(range((n + AUDIO_WINDOW - 1) // AUDIO_WINDOW))
        assert sum(w.n_in_window for w in wins.values()) == n
        for wi, row in wins.items():
            win = s[wi * AUDIO_WINDOW : (wi + 1) * AUDIO_WINDOW]
            neg = win < 0
            assert row.l1_energy == int(np.abs(win).sum())
            assert row.zero_crossings == int((neg[:-1] != neg[1:]).sum())


def test_video_motion_matches_numpy_recompute(spark):
    """q_video_motion recomputed from the synthesis law: every consecutive
    frame pair present, L1 deltas exact, non-video docs absent."""
    import numpy as np

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        avi_geometry,
        q_video_motion,
    )

    out = {}
    for r in q_video_motion(spark, SF_DIR).collect():
        out.setdefault(r.media_id, {})[r.frame_idx] = r.l1_delta
    assert out and all(d % 3 == 2 for d in out)
    for doc_id in list(out)[:20]:
        w, h, nf, seed = avi_geometry(doc_id)
        i = np.arange(3 * w * h, dtype=np.int64)
        assert sorted(out[doc_id]) == list(range(1, nf))
        for f in range(1, nf):
            cur = (seed + 7 * f + 31 * i) % 256
            prev = (seed + 7 * (f - 1) + 31 * i) % 256
            assert out[doc_id][f] == int(np.abs(cur - prev).sum())


def test_png_codec_roundtrip_and_quarantine():
    """The PNG path is a REAL entropy-coded codec: deflate + all five
    scanline filters reconstruct the exact pixel bytes; CRC corruption,
    truncation, and junk all quarantine to NULLs."""
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_png,
        encode_png,
        png_geometry,
    )

    for d in (0, 1, 7, 42, 113, 254):
        w, h, seed = png_geometry(d)
        payload = encode_png(w, h, seed)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        got_w, got_h, kinds, pix = decode_png(payload)
        assert (got_w, got_h) == (w, h)
        assert kinds == min(h, 5)  # every filter type height allows
        assert pix == sum((seed + 31 * i) % 256 for i in range(3 * w * h))

    good = encode_png(6, 5, 9)
    assert decode_png(None) == (None, None, None, None)
    assert decode_png(b"not a png") == (None, None, None, None)
    assert decode_png(good[:-5]) == (None, None, None, None)  # truncated
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF  # flip a byte inside a chunk -> CRC mismatch
    assert decode_png(bytes(corrupt)) == (None, None, None, None)


def test_decode_media_sniffs_png_vs_bmp(spark):
    """real_media_table alternates BMP and PNG image payloads; decode_media
    must dispatch by signature and recover the SAME geometry law from
    both — the compressed and uncompressed codecs behind one slot."""
    from mysql_to_clickhouse_sync_spark.catalog import load_table
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        bmp_geometry,
        decode_media,
        real_media_table,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 60)
    real = real_media_table(docs).filter(F.col("media_type") == "image")
    # both formats present in the corpus
    payloads = {r.media_id: bytes(r.payload) for r in real.collect()}
    sigs = {p[:2] for p in payloads.values()}
    assert sigs == {b"BM", b"\x89P"}
    out = {r.media_id: r for r in decode_media(real).collect()}
    assert set(out) == set(payloads)
    for mid, r in out.items():
        w, h, _ = bmp_geometry(mid)
        assert (r.width, r.height) == (w, h), mid


def test_png_roundtrip_property():
    """Property: encode->decode is the identity on (width, height, seed)
    across the whole parameter space (every filter type, odd widths where
    the bpp offset matters, heights below and above the 5-filter cycle)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=255),
    )
    def roundtrip(w, h, seed):
        got_w, got_h, kinds, pix = decode_png(encode_png(w, h, seed))
        assert (got_w, got_h) == (w, h)
        assert kinds == min(h, 5)
        assert pix == sum((seed + 31 * i) % 256 for i in range(3 * w * h))

    roundtrip()


def test_png_decoder_never_raises_on_mangled_input():
    """Property: the decoder QUARANTINES, never crashes — any truncation
    and any single-byte corruption of a valid PNG either round-trips (the
    flip missed every load-bearing byte) or returns the NULL tuple."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    good = encode_png(9, 7, 123)

    @settings(max_examples=120, deadline=None)
    @given(st.integers(min_value=0, max_value=len(good)))
    def truncate(k):
        out = decode_png(good[:k])
        assert out == (None, None, None, None) or out[0] == 9

    @settings(max_examples=120, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(good) - 1),
        st.integers(min_value=1, max_value=255),
    )
    def corrupt(pos, delta):
        mangled = bytearray(good)
        mangled[pos] = (mangled[pos] + delta) % 256
        out = decode_png(bytes(mangled))  # must not raise
        assert len(out) == 4

    truncate()
    corrupt()


def test_png_decompression_bomb_quarantines():
    """Review r4: a tiny IDAT that INFLATES to far more than IHDR promises
    (a zip bomb) must quarantine via the bounded decompress — never
    allocate the full payload. Also: trailing compressed garbage after
    the promised bytes quarantines."""
    import struct
    import zlib

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
    )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 5, 4, 8, 2, 0, 0, 0)  # promises 64 B
    bomb = sig + _png_chunk(b"IHDR", ihdr) + _png_chunk(
        b"IDAT", zlib.compress(b"\x00" * 50_000_000, 9)  # ~48 KB compressed
    ) + _png_chunk(b"IEND", b"")
    assert len(bomb) < 100_000  # the attack payload is small...
    assert decode_png(bomb) == (None, None, None, None)  # ...and inert

    # exact-size output followed by extra compressed bytes: also rejected
    rowbytes = b"\x00" * (3 * 5 + 1) * 4
    padded = sig + _png_chunk(b"IHDR", ihdr) + _png_chunk(
        b"IDAT", zlib.compress(rowbytes + b"X" * 1000)
    ) + _png_chunk(b"IEND", b"")
    assert decode_png(padded) == (None, None, None, None)


def test_jpeg_codec_roundtrip_against_law():
    """The JPEG path is a REAL Huffman-entropy-coded codec: encode from
    the coefficient-domain law, decode through marker walk + canonical
    Huffman + dequant + integer IDCT, and land exactly on the law's
    dequantized-coefficient and reconstructed-pixel sums (computed here
    independently, not through the codec)."""
    import numpy as np

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        _JPEG_G,
        _JPEG_OFF,
        _JPEG_QC_ZZ,
        _JPEG_QL_ZZ,
        _JPEG_S,
        _JPEG_ZZ,
        decode_jpeg,
        encode_jpeg,
        jpeg_block_coefs,
        jpeg_geometry,
    )

    g = np.array(_JPEG_G, dtype=np.int64)
    s2 = _JPEG_S * _JPEG_S
    shift = (128 + _JPEG_OFF) * s2 + s2 // 2
    for d in (0, 1, 5, 7, 42, 113, 250, 254):
        w, h, seed = jpeg_geometry(d)
        nb = (w // 8) * (h // 8)
        expected = []
        for c in range(3):
            q = _JPEG_QL_ZZ if c == 0 else _JPEG_QC_ZZ
            cs = ps = 0
            for b in range(nb):
                qz = jpeg_block_coefs(seed, c, b)
                fnat = np.zeros((8, 8), dtype=np.int64)
                for z in range(64):
                    if qz[z]:
                        fnat[_JPEG_ZZ[z] // 8, _JPEG_ZZ[z] % 8] = qz[z] * q[z]
                cs += int(fnat.sum())
                pix = (g.T @ fnat @ g + shift) // s2 - _JPEG_OFF
                ps += int(np.clip(pix, 0, 255).sum())
            expected.append((nb, cs, ps))
        assert decode_jpeg(encode_jpeg(w, h, seed)) == (w, h, 3, expected)


def test_jpeg_bitstream_is_wellformed():
    """Structural properties of the emitted JFIF stream: SOI/EOI
    framing, all required segments present in order, and NO un-stuffed
    0xFF inside the entropy-coded data (every 0xFF is followed by 0x00
    until the final EOI)."""
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        encode_jpeg,
        jpeg_geometry,
    )

    for d in (3, 11, 77, 200):
        p = encode_jpeg(*jpeg_geometry(d))
        assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
        for marker in (b"\xff\xe0", b"\xff\xdb", b"\xff\xc0",
                       b"\xff\xc4", b"\xff\xda"):
            assert marker in p, marker
        sos = p.index(b"\xff\xda")
        scan = p[sos + 14 : -2]  # SOS segment is 2 (marker) + 12 bytes
        i = 0
        while i < len(scan):
            if scan[i] == 0xFF:
                assert i + 1 < len(scan) and scan[i + 1] == 0x00, i
                i += 2
            else:
                i += 1


def test_jpeg_decoder_never_raises_on_mangled_input():
    """Property: truncations and single-byte corruptions of a valid
    JPEG either decode (the flip missed every load-bearing byte — JPEG
    has no CRC, so entropy-data flips CAN yield plausible garbage) or
    quarantine to the NULL tuple; the decoder never raises. Structural
    mangles (bad SOI, non-baseline SOF, DRI) must quarantine."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        jpeg_geometry,
    )

    good = encode_jpeg(*jpeg_geometry(7))
    w0 = jpeg_geometry(7)[0]

    @settings(max_examples=120, deadline=None)
    @given(st.integers(min_value=0, max_value=len(good)))
    def truncate(k):
        out = decode_jpeg(good[:k])
        assert out == (None, None, None, None) or out[0] == w0

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(good) - 1),
        st.integers(min_value=1, max_value=255),
    )
    def corrupt(pos, delta):
        mangled = bytearray(good)
        mangled[pos] = (mangled[pos] + delta) % 256
        out = decode_jpeg(bytes(mangled))  # must not raise
        assert len(out) == 4

    truncate()
    corrupt()

    assert decode_jpeg(None) == (None, None, None, None)
    assert decode_jpeg(b"\x00" * 32) == (None, None, None, None)
    # progressive SOF2 instead of baseline SOF0 -> reject, not mis-decode
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg(prog) == (None, None, None, None)
    # DRI (restart intervals) is outside the baseline subset -> reject
    dri = good[:2] + b"\xff\xdd\x00\x04\x00\x08" + good[2:]
    assert decode_jpeg(dri) == (None, None, None, None)


def test_decode_media_sniffs_jpeg(spark):
    """decode_media's image slot dispatches FFD8 payloads through the
    real JPEG decoder and recovers the geometry law."""
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        encode_jpeg,
        jpeg_geometry,
    )

    rows = [
        (int(d), "image", encode_jpeg(*jpeg_geometry(int(d))))
        for d in (0, 4, 10)
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_media(media).collect()}
    for d, _, _ in rows:
        w, h, _ = jpeg_geometry(d)
        assert (out[d].width, out[d].height) == (w, h)


def test_mulaw_codec_known_values_and_error_bound():
    """G.711 spot checks: silence maps to code 0xFF and decodes to 0;
    positive/negative symmetry; quantization error bounded by the
    segment step (amplitude/16 + bias slack) across the int16 range."""
    import numpy as np

    from mysql_to_clickhouse_sync_spark.operators.audio_codecs import (
        mulaw_decode,
        mulaw_encode,
    )

    assert mulaw_encode(np.array([0]))[0] == 0xFF
    assert mulaw_decode(np.array([0xFF]))[0] == 0
    x = np.arange(-32768, 32768, 17, dtype=np.int64)
    rec = mulaw_decode(mulaw_encode(x))
    assert (np.sign(rec) == np.sign(np.clip(x, -32635, 32635))).all()
    err = np.abs(rec - np.clip(x, -32635, 32635))
    assert (err <= np.maximum(np.abs(x) // 16, 32)).all()


def test_adpcm_wav_roundtrip_and_quarantine():
    """The fmt-0x11 WAV is REAL: RIFF walk, fmt validation, nibble
    unpacking, adaptive state machine — and the decode equals an
    independent run of the shared transition function. Structural
    mangles quarantine; the decoder never raises on truncations or
    single-byte corruptions."""
    from mysql_to_clickhouse_sync_spark.operators.audio_codecs import (
        adpcm_geometry,
        adpcm_step,
        decode_adpcm_wav,
        encode_adpcm_wav,
    )

    for d in (0, 3, 42, 254):
        n, p0, ns = adpcm_geometry(d)
        payload = encode_adpcm_wav(n, p0, ns)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        pred, sidx = p0, 0
        s = mn = mx = p0
        for i in range(1, n + 1):
            pred, sidx = adpcm_step(pred, sidx, (ns + 7 * i) % 16)
            s += pred
            mn = min(mn, pred)
            mx = max(mx, pred)
        assert decode_adpcm_wav(payload) == (n + 1, s, mn, mx)

    good = encode_adpcm_wav(*adpcm_geometry(7))
    assert decode_adpcm_wav(None) == (None, None, None, None)
    assert decode_adpcm_wav(b"not a wav") == (None, None, None, None)
    for k in range(len(good)):
        out = decode_adpcm_wav(good[:k])  # must not raise
        assert out == (None, None, None, None)
    for pos in range(len(good)):
        mangled = bytearray(good)
        mangled[pos] ^= 0x55
        out = decode_adpcm_wav(bytes(mangled))  # must not raise
        assert len(out) == 4
    # PCM fmt tag instead of 0x11 -> reject, not mis-decode
    pcm = bytearray(good)
    tag_at = good.index(b"fmt ") + 8
    pcm[tag_at] = 0x01
    assert decode_adpcm_wav(bytes(pcm)) == (None, None, None, None)


def test_mjpeg_avi_roundtrip_and_quarantine():
    """The MJPEG AVI is a real container of real JPEGs: every frame
    decodes through the full baseline pipeline and the aggregate equals
    per-frame decode_jpeg sums computed independently; handler/fourcc
    swaps, truncation, and frame-count lies all quarantine."""
    import struct

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_jpeg,
        decode_mjpeg_avi,
        encode_jpeg,
        encode_mjpeg_avi,
        mjpeg_geometry,
    )

    for d in (0, 1, 7, 42, 254):
        w, h, nf, seed = mjpeg_geometry(d)
        payload = encode_mjpeg_avi(w, h, nf, seed)
        cs = ps = 0
        for f in range(nf):
            _, _, _, per = decode_jpeg(encode_jpeg(w, h, (seed + 11 * f) % 251))
            for _, c, p in per:
                cs += c
                ps += p
        assert decode_mjpeg_avi(payload) == (w, h, nf, cs, ps)

    good = encode_mjpeg_avi(*mjpeg_geometry(9))
    assert decode_mjpeg_avi(None)[0] is None
    assert decode_mjpeg_avi(good[:-11])[0] is None
    assert decode_mjpeg_avi(good.replace(b"MJPG", b"DIB ", 1))[0] is None
    # corrupting any single frame's entropy framing quarantines the file
    sos = good.index(b"\xff\xda")
    broken = bytearray(good)
    broken[sos + 1] = 0x00
    assert decode_mjpeg_avi(bytes(broken))[0] is None


def test_gif_codec_roundtrip_and_quarantine():
    """The GIF path is a REAL LZW codec: adaptive dictionary, variable
    code width, forced CLEAR resets; junk, truncation, and structural
    damage quarantine to NULLs."""
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        gif_geometry,
    )

    for d in (0, 1, 7, 42, 113, 254):
        w, h, pb, seed = gif_geometry(d)
        pal = 1 << pb
        payload = encode_gif(w, h, pb, seed)
        assert payload[:6] == b"GIF87a" and payload[-1:] == b"\x3b"
        got = decode_gif(payload)
        n = w * h
        exp_idx = sum((seed + 7 * i) % pal for i in range(n))
        exp_pix = sum(
            ((37 * ((seed + 7 * i) % pal) + 11 * c + seed) % 256)
            for i in range(n)
            for c in range(3)
        )
        assert got == (w, h, pal, exp_idx, exp_pix)

    good = encode_gif(6, 5, 3, 9)
    nulls = (None, None, None, None, None)
    assert decode_gif(None) == nulls
    assert decode_gif(b"not a gif") == nulls
    assert decode_gif(good[:-2]) == nulls  # missing trailer
    assert decode_gif(good[:20]) == nulls  # truncated mid-palette


def test_gif_roundtrip_property():
    """Property: encode->decode is the identity across the parameter
    space — every palette size, widths/heights crossing the forced-CLEAR
    boundary, and seeds exercising different dictionary shapes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(min_value=1, max_value=30),
        st.integers(min_value=1, max_value=14),
        st.integers(min_value=2, max_value=4),
        st.integers(min_value=0, max_value=240),
    )
    def roundtrip(w, h, pb, seed):
        pal = 1 << pb
        got = decode_gif(encode_gif(w, h, pb, seed))
        n = w * h
        exp_idx = sum((seed + 7 * i) % pal for i in range(n))
        exp_pix = sum(
            ((37 * ((seed + 7 * i) % pal) + 11 * c + seed) % 256)
            for i in range(n)
            for c in range(3)
        )
        assert got == (w, h, pal, exp_idx, exp_pix)

    roundtrip()


def test_gif_deep_code_width_growth(monkeypatch):
    """With the forced CLEAR suppressed, a large frame grows the
    dictionary through every code width up to the 12-bit ceiling and
    the natural 4096-entry reset — the encoder/decoder width schedules
    (which differ by the classic one-entry decoder lag) must stay in
    lockstep the whole way."""
    import mysql_to_clickhouse_sync_spark.operators.multimodal as M

    monkeypatch.setattr(M, "_GIF_FORCED_CLEAR", 1 << 30)
    w, h, pb, seed = 251, 97, 4, 77
    pal = 1 << pb
    got = M.decode_gif(M.encode_gif(w, h, pb, seed))
    n = w * h
    exp_idx = sum((seed + 7 * i) % pal for i in range(n))
    assert got[:4] == (w, h, pal, exp_idx)


def test_gif_kwkwk_and_overlong_quarantine():
    """The KwKwK case (code == next undefined code, produced by runs
    like 0,0,0,...) decodes correctly; a compressed stream yielding MORE
    pixels than the descriptor promises quarantines (the LZW edition of
    the PNG bomb bound)."""
    import struct

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        _gif_lzw_compress,
        _gif_palette,
        decode_gif,
    )

    def container(w, h, pbits, indices):
        packed = 0x80 | ((pbits - 1) << 4) | (pbits - 1)
        out = bytearray(b"GIF87a")
        out += struct.pack("<HHBBB", w, h, packed, 0, 0)
        out += _gif_palette(pbits, 0)
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(pbits)
        data = _gif_lzw_compress(indices, pbits)
        for off in range(0, len(data), 255):
            block = data[off : off + 255]
            out.append(len(block))
            out += block
        out += b"\x00\x3b"
        return bytes(out)

    # constant run: the second emitted code is always the just-defined
    # one -> KwKwK on the decoder side
    w, h = 5, 2
    payload = container(w, h, 2, [0] * (w * h))
    got = decode_gif(payload)
    pal3 = sum((37 * 0 + 11 * c + 0) % 256 for c in range(3))
    assert got == (w, h, 4, 0, w * h * pal3)

    # same stream, but the descriptor promises FEWER pixels
    overlong = container(3, 2, 2, [0] * (w * h))
    assert decode_gif(overlong) == (None, None, None, None, None)


def test_gif_decoder_never_raises_on_mangled_input():
    """Property: any truncation and any single-byte corruption of a
    valid GIF either decodes (the flip missed every load-bearing byte —
    GIF has no CRC) or returns the NULL tuple; it never raises."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    good = encode_gif(9, 7, 3, 123)

    @settings(max_examples=120, deadline=None)
    @given(st.integers(min_value=0, max_value=len(good)))
    def truncate(k):
        out = decode_gif(good[:k])
        assert out == (None, None, None, None, None) or out[0] == 9

    @settings(max_examples=120, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(good) - 1),
        st.integers(min_value=1, max_value=255),
    )
    def corrupt(pos, delta):
        mangled = bytearray(good)
        mangled[pos] = (mangled[pos] + delta) % 256
        out = decode_gif(bytes(mangled))  # must not raise
        assert len(out) == 5

    truncate()
    corrupt()


def test_decode_media_sniffs_gif(spark):
    """decode_media's image slot dispatches GIF87a payloads through the
    real LZW decoder and recovers the geometry law."""
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        encode_gif,
        gif_geometry,
    )

    rows = [
        (int(d), "image", encode_gif(*gif_geometry(int(d))))
        for d in (0, 4, 10)
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_media(media).collect()}
    for d, _, _ in rows:
        w, h, _, _ = gif_geometry(d)
        assert (out[d].width, out[d].height) == (w, h)


def test_flac_rice_roundtrip_and_quarantine():
    """The Rice-coded predictive audio codec is lossless (decode
    recovers the exact law-sample checksum), COMPRESSES vs raw 16-bit,
    and quarantines all malformed input without raising."""
    from mysql_to_clickhouse_sync_spark.operators.audio_codecs import (
        _FLAC_BLOCK,
        _flac_sample,
        decode_flac,
        encode_flac,
        flac_geometry,
    )

    for d in (0, 1, 7, 42, 113, 254):
        n, seed = flac_geometry(d)
        payload = encode_flac(n, seed)
        got = decode_flac(payload)
        assert got == (
            n,
            (n + _FLAC_BLOCK - 1) // _FLAC_BLOCK,
            sum(_flac_sample(seed, i) for i in range(n)),
        )
        assert len(payload) < 2 * n  # beats raw int16

    good = encode_flac(*flac_geometry(3))
    assert decode_flac(None) == (None, None, None)
    assert decode_flac(b"not flac") == (None, None, None)
    for cut in range(len(good)):
        assert decode_flac(good[:cut]) == (None, None, None), cut


def test_flac_decoder_never_raises_on_mangled_input():
    """Any single-byte corruption either quarantines or decodes to SOME
    triple — never an exception (unary runs and residuals are bomb-
    bounded, block alignment and end-of-stream are checked)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.audio_codecs import (
        decode_flac,
        encode_flac,
    )

    good = encode_flac(300, 77)

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(good) - 1),
        st.integers(min_value=1, max_value=255),
    )
    def corrupt(pos, delta):
        mangled = bytearray(good)
        mangled[pos] = (mangled[pos] + delta) % 256
        out = decode_flac(bytes(mangled))  # must not raise
        assert len(out) == 3

    corrupt()


def test_flac_blocks_use_multiple_predictor_orders():
    """The synthesis law must actually exercise more than one fixed
    predictor order across the corpus — otherwise the order field is
    dead code and the test corpus proves less than it claims."""
    from mysql_to_clickhouse_sync_spark.operators.audio_codecs import (
        _FLAC_BLOCK,
        _flac_sample,
        flac_geometry,
    )

    orders = set()
    for d in range(40):
        n, seed = flac_geometry(d)
        samples = [_flac_sample(seed, i) for i in range(n)]
        for bs in range(0, n, _FLAC_BLOCK):
            blk = samples[bs : bs + _FLAC_BLOCK]
            cands = []
            for order in (0, 1, 2):
                if len(blk) <= order:
                    continue
                if order == 0:
                    res = blk
                elif order == 1:
                    res = [blk[i] - blk[i - 1] for i in range(1, len(blk))]
                else:
                    res = [
                        blk[i] - 2 * blk[i - 1] + blk[i - 2]
                        for i in range(2, len(blk))
                    ]
                cands.append((sum(abs(r) for r in res), order))
            orders.add(min(cands)[1])
    assert orders == {0, 1, 2}, orders


def test_range_coder_roundtrip_compression_and_quarantine():
    """The adaptive range coder is exact (decode recovers the law
    checksum with the model in lockstep), genuinely compresses the
    skewed stream below 4-bit raw packing, enforces zero-slack
    end-of-stream, and quarantines every truncation."""
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        _range_symbol,
        decode_range,
        encode_range,
        range_geometry,
    )

    for d in (0, 1, 7, 42, 113, 254):
        n, nsym, seed = range_geometry(d)
        payload = encode_range(n, nsym, seed)
        assert decode_range(payload) == (
            n,
            nsym,
            sum(_range_symbol(seed, i) for i in range(n)),
        )
        assert len(payload) - 8 < (n + 1) // 2  # beats raw nibble packing

    good = encode_range(*range_geometry(9))
    assert decode_range(None) == (None, None, None)
    assert decode_range(b"not rc") == (None, None, None)
    assert decode_range(good + b"\x00") == (None, None, None)  # zero slack
    for cut in range(len(good)):
        assert decode_range(good[:cut]) == (None, None, None), cut


def test_range_decoder_never_raises_on_mangled_input():
    """Single-byte corruptions either quarantine or decode to SOME
    triple — never an exception; the adaptive model makes most flips
    visibly derail the stream (pos mismatch -> zero-slack quarantine)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_range,
        encode_range,
        range_geometry,
    )

    good = encode_range(*range_geometry(21))

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(good) - 1),
        st.integers(min_value=1, max_value=255),
    )
    def corrupt(pos, delta):
        mangled = bytearray(good)
        mangled[pos] = (mangled[pos] + delta) % 256
        out = decode_range(bytes(mangled))
        assert len(out) == 3

    corrupt()


def test_timeseries_codec_roundtrip_compression_quarantine():
    """DoubleDelta + Gorilla: exact round trip of both bit-streams,
    ~15x compression vs raw 16 B/point on the near-regular law, and
    full truncation quarantine."""
    from mysql_to_clickhouse_sync_spark.operators.tscodec import (
        _float_scaled,
        _ts_value,
        decode_timeseries,
        encode_timeseries,
        ts_geometry,
    )

    for d in (0, 1, 7, 42, 113, 254):
        n, seed = ts_geometry(d)
        payload = encode_timeseries(n, seed)
        assert decode_timeseries(payload) == (
            n,
            sum(_ts_value(seed, i) for i in range(n)),
            sum(_float_scaled(seed, i) for i in range(n)),
        )
        assert len(payload) - 7 < 2 * n  # >= 8x under raw 16 B/point

    good = encode_timeseries(*ts_geometry(9))
    assert decode_timeseries(None) == (None, None, None)
    assert decode_timeseries(b"nope") == (None, None, None)
    for cut in range(len(good)):
        assert decode_timeseries(good[:cut]) == (None, None, None), cut


def test_timeseries_law_exercises_all_paths():
    """The timestamp law must hit the dd==0 fast path, at least one
    small class and the escape class; the float law must hit the
    identical, window-reuse and new-window branches — otherwise parts
    of both decoders are dead code under test."""
    import struct

    from mysql_to_clickhouse_sync_spark.operators.tscodec import (
        _float_scaled,
        _ts_value,
        ts_geometry,
        _zz,
    )

    n, seed = ts_geometry(3)
    ts = [_ts_value(seed, i) for i in range(n)]
    deltas = [ts[i] - ts[i - 1] for i in range(1, n)]
    dds = [deltas[0]] + [
        deltas[i] - deltas[i - 1] for i in range(1, len(deltas))
    ]
    classes = set()
    for dd in dds:
        if dd == 0:
            classes.add(0)
        else:
            u = _zz(dd)
            classes.add(
                7 if u < 128 else (9 if u < 512 else (12 if u < 4096 else 64))
            )
    assert 0 in classes and 64 in classes and (7 in classes or 9 in classes)

    bits = [
        struct.unpack("<Q", struct.pack("<d", _float_scaled(seed, i) / 8.0))[0]
        for i in range(n)
    ]
    xors = [bits[i] ^ bits[i - 1] for i in range(1, n)]
    assert any(x == 0 for x in xors)
    assert any(x != 0 for x in xors)


def test_timeseries_mangle_never_raises():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_sync_spark.operators.tscodec import (
        decode_timeseries,
        encode_timeseries,
        ts_geometry,
    )

    good = encode_timeseries(*ts_geometry(21))

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(good) - 1),
        st.integers(min_value=1, max_value=255),
    )
    def corrupt(pos, delta):
        mangled = bytearray(good)
        mangled[pos] = (mangled[pos] + delta) % 256
        out = decode_timeseries(bytes(mangled))
        assert len(out) == 3

    corrupt()


def test_gif_width_schedule_exhaustive_small_geometries():
    """Regression pin for the LZW width-schedule tail corner (the final
    decoder dictionary add landing exactly on 2**w - 1 right before
    EOI): every small geometry round-trips. This sweep caught the
    encoder's local next_code rule diverging from the decoder at the
    EOI boundary; the encoder now simulates the decoder's schedule."""
    from mysql_to_clickhouse_sync_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    for w in range(1, 8):
        for h in range(1, 8):
            for pb in (2, 3, 4):
                for seed in (0, 3, 77, 240):
                    pal = 1 << pb
                    got = decode_gif(encode_gif(w, h, pb, seed))
                    n = w * h
                    exp = sum((seed + 7 * i) % pal for i in range(n))
                    assert got[:4] == (w, h, pal, exp), (w, h, pb, seed)
