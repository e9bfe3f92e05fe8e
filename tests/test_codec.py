"""Image codec: round-trip, PSNR invariant, vectorized GPS extraction."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tzspark.imagecodec import (
    HEADER_LEN,
    decode_image,
    encode_image,
    extract_gps_batch,
    psnr,
    rle_decode,
    rle_encode,
    synth_pixels,
)


@pytest.mark.parametrize("fmt", ["raw", "rle", "qnt"])
def test_roundtrip(fmt):
    buf, phash, pix = encode_image(7, 12.5, -33.25, 16, 8, fmt)
    lat, lng, dec = decode_image(buf)
    assert lat == np.float32(12.5) and lng == np.float32(-33.25)
    assert dec.shape == pix.shape
    if fmt in ("raw", "rle"):
        np.testing.assert_array_equal(dec, pix)  # lossless: bit-equal
    else:
        assert psnr(pix, dec) >= 40.0  # lossy invariant (BASELINE.json)
        assert np.abs(dec.astype(int) - pix.astype(int)).max() <= 2


def test_qnt_psnr_worst_case():
    # adversarial worst case for 6-bit quantization: all p % 4 == 0
    pix = np.zeros((8, 8, 3), dtype=np.uint8)
    q = pix >> 2
    dec = ((q << 2) + 2).astype(np.uint8)
    assert psnr(pix, dec) >= 40.0


@settings(max_examples=100, deadline=None)
@given(data=st.binary(min_size=0, max_size=2000))
def test_rle_roundtrip(data):
    arr = np.frombuffer(data, dtype=np.uint8)
    np.testing.assert_array_equal(rle_decode(rle_encode(arr)), arr)


def test_rle_long_run_split():
    arr = np.full(1000, 7, dtype=np.uint8)
    np.testing.assert_array_equal(rle_decode(rle_encode(arr)), arr)


def test_extract_gps_batch():
    bufs = []
    coords = [(1.5, 2.5), (-45.0, 170.25), (89.0, -179.5)]
    for k, (la, lo) in enumerate(coords):
        buf, _, _ = encode_image(k, la, lo, 8, 8, "raw")
        bufs.append(buf)
    bufs.append(b"short")  # quarantine: truncated blob
    bufs.append(b"XXXX" + bytes(HEADER_LEN))  # quarantine: bad magic
    bufs.append(None)  # quarantine: null
    lat, lng, ok = extract_gps_batch(bufs)
    assert ok.tolist() == [True, True, True, False, False, False]
    np.testing.assert_array_equal(lat[:3], np.array([c[0] for c in coords], np.float32))
    np.testing.assert_array_equal(lng[:3], np.array([c[1] for c in coords], np.float32))


def test_phash_deterministic():
    b1, h1, _ = encode_image(3, 0, 0, 8, 8, "raw")
    b2, h2, _ = encode_image(3, 0, 0, 8, 8, "raw")
    assert b1 == b2 and h1 == h2
    _, h3, _ = encode_image(4, 0, 0, 8, 8, "raw")
    assert h1 != h3


def test_synth_pixels_deterministic():
    np.testing.assert_array_equal(synth_pixels(5, 16, 8), synth_pixels(5, 16, 8))


def test_extract_gps_batch_misaligned_17n_total():
    """Variable-length blobs that happen to total n*HEADER_LEN must not be
    parsed at misaligned offsets (each header is read at its own blob's
    start); null and short blobs beside them are invalid and read as 0."""
    good, _, _ = encode_image(1, 5.0, 6.0, 8, 8, "raw")
    b1, b2 = good[:HEADER_LEN - 1], good[:HEADER_LEN + 1]  # total = 2*HEADER_LEN
    lat, lng, ok = extract_gps_batch([b1, b2, None, b"", good[:3], good])
    assert ok.tolist() == [False, True, False, False, False, True]
    assert lat[1] == np.float32(5.0) and lng[1] == np.float32(6.0)
    assert lat[5] == np.float32(5.0) and lng[5] == np.float32(6.0)
    assert lat[[0, 2, 3, 4]].tolist() == [0.0] * 4 and lng[[0, 2, 3, 4]].tolist() == [0.0] * 4


def test_batch_psnr_audit_equals_scalar_path():
    """The vectorized audit must reproduce the scalar decode+synth+psnr
    composition exactly (squared-error sums are exact integers; the final
    log10 is the same float64 expression)."""
    from tzspark.imagecodec import batch_psnr_audit, pack_blobs

    rows = []
    for i in range(60):
        w, h, fmt = (8, 16, 32)[i % 3], (8, 16, 24)[i % 3], ("raw", "rle", "qnt")[i % 3]
        buf, _, _ = encode_image(i, 1.0, 2.0, w, h, fmt)
        rows.append((i, buf, fmt, w, h))
    rows.append((999, b"short", None, 0, 0))  # quarantine row
    data, offsets = pack_blobs([r[1] for r in rows])
    audit = batch_psnr_audit(data, offsets, np.array([r[0] for r in rows]))
    assert not audit["ok"][-1]
    for k, (i, buf, fmt, w, h) in enumerate(rows[:-1]):
        assert audit["ok"][k]
        _, _, dec = decode_image(buf)
        want = psnr(synth_pixels(i, w, h), dec)
        got = float(audit["psnr"][k])
        if want == float("inf"):
            assert got == float("inf"), (k, fmt)
        else:
            assert abs(got - want) < 1e-9, (k, fmt, got, want)
    # losslessness by format: raw/rle exact, qnt >= 40 dB
    p = audit["psnr"][:-1]
    fmts = np.array([r[2] for r in rows[:-1]])
    assert np.isinf(p[fmts != "qnt"]).all()
    assert (p[fmts == "qnt"] >= 40.0).all()


def test_synth_pixels_batch_equals_scalar():
    """The batched pixel synthesis (one broadcast per shape group) must be
    bit-identical per row to the scalar kernel it replaces — the DuckDB
    pixel oracles and the golden phash column both depend on these bytes."""
    from tzspark.imagecodec import synth_pixels_batch

    idx = np.array([0, 1, 2, 3, 300, 9999, 123456, 12345678901], dtype=np.int64)
    for w, h in ((8, 8), (16, 16), (32, 24)):
        batch = synth_pixels_batch(idx, w, h)
        assert batch.shape == (idx.size, h, w, 3) and batch.dtype == np.uint8
        for k, i in enumerate(idx):
            assert np.array_equal(batch[k], synth_pixels(int(i), w, h)), (i, w, h)


def test_synth_images_pdf_equals_encode_image():
    """The vectorized table synthesis must match the per-row encode_image
    composition byte-for-byte (payload bytes, phash, metadata columns)."""
    from tzspark.datasets import FMTS, HS, WS, synth_coords, synth_images_pdf

    idx = np.array([0, 1, 2, 5, 7, 11, 999, 10007, 123457], dtype=np.int64)
    pdf = synth_images_pdf(idx)
    lat, lng = synth_coords(idx)
    for k, i in enumerate(idx):
        i = int(i)
        w, h, fmt = WS[i % 3], HS[i % 3], FMTS[i % 3]
        buf, ph, _ = encode_image(i, float(lat[k]), float(lng[k]), w, h, fmt)
        assert pdf["bytes"][k] == buf, (i, fmt)
        assert pdf["phash"][k] == ph
        assert (pdf["fmt"][k], pdf["w"][k], pdf["h"][k]) == (fmt, w, h)
        assert pdf["image_id"][k] == f"img{i:012d}"
        assert pdf["caption"][k] == f"cap {i}"
