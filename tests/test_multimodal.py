"""Multimodal decode: the codecs round-trip and reject malformed input,
the distributed typed decode reproduces generation-time ground truth
across partitionings, and the jpeg stub raises cleanly."""

import pytest

from logparse_spark.operators import multimodal as mm


def test_decode_stub_raises_for_compressed_codecs():
    # jpeg remains the one env-stubbed codec (PNG is native since r6)
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")


def test_bmp_roundtrip():
    import numpy as np

    rng_bytes = mm._hash_stream("t:bmp", 7 * 5 * 3)
    bgr = rng_bytes.reshape(5, 7, 3)
    payload = mm.encode_bmp(bgr)
    d = mm.decode_bmp(payload)
    assert (d["width"], d["height"], d["n_pixels"]) == (7, 5, 35)
    assert d["pixel_sum"] == int(bgr.astype(np.int64).sum())
    # width 7 -> row 21 bytes -> 3 pad bytes/row; header 54
    assert len(payload) == 54 + (21 + 3) * 5
    # decode_image dispatches BMP natively
    assert mm.decode_image(payload) == d


def test_wav_roundtrip():
    import numpy as np

    samples = mm._hash_stream("t:wav", 100 * 2).view("<i2").astype(np.int16)
    payload = mm.encode_wav(samples, 16000)
    d = mm.decode_wav(payload)
    assert d["sample_rate"] == 16000 and d["n_samples"] == 100
    assert d["sample_sum"] == int(samples.astype(np.int64).sum())


def test_codec_rejects_malformed():
    with pytest.raises(ValueError):
        mm.decode_bmp(b"XX not a bmp")
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFFxxxxNOPE")


def test_extract_media_features_matches_generation_truth(spark):
    """The distributed decode must reproduce the GENERATION-TIME ground
    truth (computed from source arrays before encoding) byte-exactly,
    across partitionings — the in-test twin of the driver oracle."""
    media = mm.synth_media(spark, n=33)
    want = {t["media_id"]: t for t in mm.expected_media_features(33)}
    for df in (media, media.repartition(7)):
        got = {r["media_id"]: r for r in mm.extract_media_features(df).collect()}
        assert set(got) == set(want)
        for mid, t in want.items():
            r = got[mid]
            for k in ("kind", "n_bytes", "width", "height", "sample_rate",
                      "n_units", "content_sum"):
                assert r[k] == t[k], (mid, k, r[k], t[k])


def test_bmp_roundtrip_property():
    """Property: encode->decode is exact for arbitrary small dimensions
    (including widths whose 3-byte rows need every padding width 0-3)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.integers(1, 24), st.integers(1, 16), st.integers(0, 2**31 - 1))
    @settings(max_examples=60, deadline=None)
    def check(w, h, seed):
        rng = np.random.default_rng(seed)
        bgr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        d = mm.decode_bmp(mm.encode_bmp(bgr))
        assert (d["width"], d["height"]) == (w, h)
        assert d["n_pixels"] == w * h
        assert d["pixel_sum"] == int(bgr.astype(np.int64).sum())

    check()


def test_wav_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.integers(1, 500), st.sampled_from([8000, 16000, 44100]),
           st.integers(0, 2**31 - 1))
    @settings(max_examples=60, deadline=None)
    def check(n, sr, seed):
        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int64).astype(np.int16)
        d = mm.decode_wav(mm.encode_wav(samples, sr))
        assert d["sample_rate"] == sr and d["n_samples"] == n
        assert d["sample_sum"] == int(samples.astype(np.int64).sum())

    check()


def test_bmp_top_down_variant():
    # ADVICE r5: negative biHeight is the spec's TOP-DOWN row order; it
    # must decode to the same pixels as its bottom-up twin, not hit
    # np.frombuffer with a negative count
    import struct

    import numpy as np

    rng = np.random.default_rng(9)
    bgr = rng.integers(0, 256, size=(5, 3, 3), dtype=np.int64).astype(np.uint8)
    bottom_up = mm.encode_bmp(bgr)
    ref = mm.decode_bmp(bottom_up)
    # rewrite the header with biHeight = -5 and the rows in natural order
    row, pad = 3 * 3, (-(3 * 3)) % 4
    body = b"".join(bgr[r].tobytes() + b"\x00" * pad for r in range(5))
    top_down = bottom_up[:18] + struct.pack("<ii", 3, -5) + bottom_up[26:54] + body
    got = mm.decode_bmp(top_down)
    assert got == ref  # same width/height/n_pixels/pixel_sum
    # zero/negative width and zero height stay explicit codec errors
    bad = bottom_up[:18] + struct.pack("<ii", 3, 0) + bottom_up[26:]
    import pytest

    with pytest.raises(ValueError, match="unsupported BMP"):
        mm.decode_bmp(bad)


def test_png_roundtrip_every_filter():
    import numpy as np

    px = mm._hash_stream("t:png", 9 * 7 * 3).reshape(7, 9, 3)
    for f in range(5):  # each filter type alone, whole image
        d = mm.decode_png(mm.encode_png(px, row_filters=[f]))
        assert (d["width"], d["height"], d["n_pixels"]) == (9, 7, 63), f
        assert d["pixel_sum"] == int(px.astype(np.int64).sum()), f
    # default cycling filters + dispatch through decode_image
    payload = mm.encode_png(px)
    assert payload[:8] == mm._PNG_SIG
    assert mm.decode_image(payload) == mm.decode_png(payload)


def test_png_roundtrip_property():
    """Property: encode->decode is exact for arbitrary dimensions and
    filter choices (incl. w=1, where left/upleft are always zero)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.integers(1, 20), st.integers(1, 14), st.integers(0, 2**31 - 1),
           st.lists(st.integers(0, 4), min_size=1, max_size=6))
    @settings(max_examples=60, deadline=None)
    def check(w, h, seed, filters):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        d = mm.decode_png(mm.encode_png(px, row_filters=filters))
        assert (d["width"], d["height"]) == (w, h)
        assert d["pixel_sum"] == int(px.astype(np.int64).sum())

    check()


def test_png_rejects_corruption_and_unsupported():
    import struct

    import numpy as np

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = mm.encode_png(px)
    # flip one IDAT byte -> chunk CRC must catch it
    idat_at = good.index(b"IDAT") + 4
    bad = bytearray(good)
    bad[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(bad))
    # not a PNG at all
    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"XX")
    # unsupported variant: rewrite IHDR as RGBA (color type 6), re-CRC
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)
    bad2 = mm._PNG_SIG + mm._png_chunk(b"IHDR", ihdr) + good[8 + 12 + 13:]
    with pytest.raises(ValueError, match="unsupported PNG"):
        mm.decode_png(bad2)
    # truncated: signature only
    with pytest.raises(ValueError, match="missing IHDR"):
        mm.decode_png(mm._PNG_SIG)


def test_synth_media_emits_both_image_codecs():
    rows, truths = mm.synth_media_rows(n=24)
    codecs = {r[3]["codec"] for r in rows if r[1] == "image"}
    assert codecs == {"bmp", "png"}
    # every image payload decodes to its generation-time truth
    by_id = {t["media_id"]: t for t in truths}
    for mid, kind, payload, _meta in rows:
        if kind != "image":
            continue
        d = mm.decode_image(bytes(payload))
        t = by_id[mid]
        assert (d["width"], d["height"]) == (t["width"], t["height"])
        assert d["pixel_sum"] == t["content_sum"]


def test_png_rejects_oversized_or_undersized_streams():
    import struct

    import numpy as np

    import zlib

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = mm.encode_png(px)
    # IHDR says 2x2 but the IDAT stream inflates to a larger body:
    # bounded decompression must fail the exact-length check, never
    # balloon memory past the declared size
    big_body = bytes(21) * 40
    forged = (mm._PNG_SIG
              + mm._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
              + mm._png_chunk(b"IDAT", zlib.compress(big_body))
              + mm._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size mismatch"):
        mm.decode_png(forged)
    # zero-dimension IHDR is an explicit codec error
    zdim = (mm._PNG_SIG
            + mm._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 2, 8, 2, 0, 0, 0))
            + good[8 + 12 + 13:])
    with pytest.raises(ValueError, match="dimensions"):
        mm.decode_png(zdim)
