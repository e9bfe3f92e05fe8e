"""Synthetic image payload codec with EXIF-style GPS header.

The container has no image libraries (no PIL), so the payload format is our
own deterministic codec (FIXTURES.md §1) — the point is the Spark-side
plumbing (schema, batch shape, vectorized extraction), not JPEG fidelity.

Byte layout (little-endian, fixed offsets so a whole Arrow batch of headers
parses with ONE np.frombuffer — no per-row Python in the hot path):

    magic 'TZI1' (4B) | lat float32 | lng float32 | w uint16 | h uint16 |
    fmt uint8 (0=raw, 1=rle, 2=qnt) | payload

lat/lng are float32 BY CONSTRUCTION, matching the reference's coordinate
precision (geo/latlng.go:15-17, 29-31 — float64 API truncated to float32).

Codecs:
    raw — RGB uint8, C-order (lossless)
    rle — byte-level run-length pairs (count u8, value u8) (lossless)
    qnt — 6-bit quantization: q = p >> 2, decode (q << 2) + 2; max abs error
          2 -> PSNR >= 20*log10(255/2) ~= 42 dB for ANY input (lossy, meets
          the >=40 dB invariant unconditionally)
"""

from __future__ import annotations

import hashlib

import numpy as np

MAGIC = b"TZI1"
HEADER_LEN = 17
FMT_CODES = {"raw": 0, "rle": 1, "qnt": 2}
FMT_NAMES = {v: k for k, v in FMT_CODES.items()}

_HEADER_DTYPE = np.dtype(
    [
        ("magic", "S4"),
        ("lat", "<f4"),
        ("lng", "<f4"),
        ("w", "<u2"),
        ("h", "<u2"),
        ("fmt", "u1"),
    ]
)
assert _HEADER_DTYPE.itemsize == HEADER_LEN


def synth_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient + sinusoid pixels keyed on row index ``i``.

    Smooth content (so RLE finds runs and quantization error is benign) but
    unique per i. Returns (h, w, 3) uint8.
    """
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = (xx * 255.0 / max(w - 1, 1) + yy * 255.0 / max(h - 1, 1)) / 2.0
    phase = (i * 37) % 256
    r = base
    g = (base + phase) % 256.0
    b = 127.5 + 127.5 * np.sin((xx + yy) / 7.0 + i * 0.31)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def synth_pixels_batch(i: np.ndarray, w: int, h: int) -> np.ndarray:
    """Vectorized synth_pixels for a batch of equal-shape rows.

    Returns (k, h, w, 3) uint8, bit-identical per row to synth_pixels(i[j])
    (pinned by tests): the same float64 expressions evaluated with the
    per-image terms broadcast over leading axis k instead of scalar.
    """
    i = np.asarray(i, dtype=np.int64)
    k = i.shape[0]
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = (xx * 255.0 / max(w - 1, 1) + yy * 255.0 / max(h - 1, 1)) / 2.0
    phase = ((i * 37) % 256).astype(np.float64)
    out = np.empty((k, h, w, 3), dtype=np.uint8)
    out[..., 0] = np.broadcast_to(base, (k, h, w)).astype(np.uint8)
    out[..., 1] = ((base[None, :, :] + phase[:, None, None]) % 256.0).astype(np.uint8)
    out[..., 2] = (
        127.5 + 127.5 * np.sin((xx + yy)[None, :, :] / 7.0 + (i * 0.31)[:, None, None])
    ).astype(np.uint8)
    return out


def phash_pixels(pix: np.ndarray) -> int:
    """Stable 64-bit content hash of a pixel array (the `phash` column)."""
    return int.from_bytes(
        hashlib.blake2b(np.ascontiguousarray(pix, np.uint8).tobytes(),
                        digest_size=8).digest(),
        "little",
        signed=True,
    )


def rle_encode(flat: np.ndarray) -> bytes:
    """Byte-level RLE: (count u8, value u8) pairs; runs > 255 are split."""
    flat = np.ascontiguousarray(flat, dtype=np.uint8).ravel()
    if flat.size == 0:
        return b""
    change = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    starts = np.concatenate([[0], change])
    ends = np.concatenate([change, [flat.size]])
    lengths = ends - starts
    values = flat[starts]
    # split runs longer than 255
    n_chunks = (lengths + 254) // 255
    out_vals = np.repeat(values, n_chunks)
    # every chunk is 255 except the last of each run, which carries the
    # remainder (exactly 255 when the run length divides evenly)
    out_lens = np.full(out_vals.shape[0], 255, dtype=np.int64)
    out_lens[np.cumsum(n_chunks) - 1] = lengths - 255 * (n_chunks - 1)
    pairs = np.empty(out_vals.shape[0] * 2, dtype=np.uint8)
    pairs[0::2] = out_lens.astype(np.uint8)
    pairs[1::2] = out_vals
    return pairs.tobytes()


def rle_decode(buf: bytes) -> np.ndarray:
    pairs = np.frombuffer(buf, dtype=np.uint8)
    return np.repeat(pairs[1::2], pairs[0::2].astype(np.int64))


def encode_image(i: int, lat: float, lng: float, w: int, h: int, fmt: str) -> tuple:
    """-> (bytes, phash int64, pixels). Deterministic for (i, w, h, fmt)."""
    pix = synth_pixels(i, w, h)
    flat = pix.ravel()
    if fmt == "raw":
        payload = flat.tobytes()
    elif fmt == "rle":
        payload = rle_encode(flat)
    elif fmt == "qnt":
        payload = (flat >> 2).tobytes()
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    hdr = np.zeros(1, dtype=_HEADER_DTYPE)
    hdr["magic"] = MAGIC
    hdr["lat"] = np.float32(lat)
    hdr["lng"] = np.float32(lng)
    hdr["w"] = w
    hdr["h"] = h
    hdr["fmt"] = FMT_CODES[fmt]
    return hdr.tobytes() + payload, phash_pixels(pix), pix


def decode_image(buf: bytes) -> tuple:
    """-> (lat f32, lng f32, pixels (h,w,3) uint8). Inverse of encode."""
    hdr = np.frombuffer(buf[:HEADER_LEN], dtype=_HEADER_DTYPE)[0]
    if bytes(hdr["magic"]) != MAGIC:
        raise ValueError("bad magic")
    w, h, fmt = int(hdr["w"]), int(hdr["h"]), int(hdr["fmt"])
    payload = buf[HEADER_LEN:]
    if fmt == FMT_CODES["raw"]:
        flat = np.frombuffer(payload, dtype=np.uint8)
    elif fmt == FMT_CODES["rle"]:
        flat = rle_decode(payload)
    else:  # qnt: dequantize to run-center
        q = np.frombuffer(payload, dtype=np.uint8)
        flat = ((q << 2) + 2).astype(np.uint8)
    return np.float32(hdr["lat"]), np.float32(hdr["lng"]), flat.reshape(h, w, 3)


def parse_headers(data: np.ndarray, offsets: np.ndarray) -> tuple:
    """The one header parser: (header records, ok) for a batch of blobs.

    ``data`` is the raw uint8 byte stream of all blobs back to back (e.g. an
    Arrow BinaryArray's data buffer, zero-copy); ``offsets`` the (n+1,) blob
    boundaries. One strided gather of every blob's 17-byte prefix and one
    structured view over it — the batch analog of the reference's mmap
    reinterpret (geo/polygon.go:119-144), no per-row Python. Returns the
    (n,) ``_HEADER_DTYPE`` records (lat/lng float32, w, h, fmt) and ``ok``:
    the blob holds a whole header with the right magic. A blob shorter than
    the header reads as an all-zero record (lat = lng = 0)."""
    data = np.asarray(data, dtype=np.uint8)
    offsets = np.asarray(offsets, dtype=np.int64)
    starts = offsets[:-1]
    ok = offsets[1:] - starts >= HEADER_LEN
    hdr = np.zeros(starts.shape[0], dtype=_HEADER_DTYPE)
    idx = starts[ok][:, None] + np.arange(HEADER_LEN)
    hdr[ok] = data[idx].reshape(-1).view(_HEADER_DTYPE)
    ok &= hdr["magic"] == MAGIC
    return hdr, ok


def extract_gps_batch(bufs) -> tuple:
    """parse_headers over a list of bytes-likes (None tolerated) -> (lat f32
    array, lng f32 array, valid bool array). Null blobs, blobs shorter than
    the header and bad magic are flagged invalid (quarantine path,
    timezone.go:62-64 analog)."""
    hdr, ok = parse_headers(*pack_blobs(bufs))
    return hdr["lat"].copy(), hdr["lng"].copy(), ok


def _ragged_ramp(starts: np.ndarray, counts: np.ndarray, step: int = 1) -> np.ndarray:
    """Concatenate [starts[i], starts[i]+step*counts[i]) strided ranges."""
    counts = counts.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64)
    ends = counts.cumsum()
    r = np.arange(total, dtype=np.int64)
    within = r - np.repeat(ends - counts, counts)
    return np.repeat(starts.astype(np.int64), counts) + step * within


_GATHER_BUDGET = 4 * 1024 * 1024  # bytes per grouped gather temp


def _channel_sums_grouped(src: np.ndarray, starts: np.ndarray, npx: np.ndarray,
                          rows: np.ndarray, chsum: np.ndarray):
    """Per-image RGB channel sums, vectorized by shape group.

    Image i's pixel bytes live at src[starts[i] : starts[i] + 3*npx[i]] in
    RGB interleave. Images with equal pixel count gather into one (k, 3*v)
    matrix (single fancy-index memcpy) and reduce as (k, v, 3) -> (k, 3) in
    one pass — no per-image Python. Accumulates into chsum[rows].
    """
    for v in np.unique(npx):
        m = npx == v
        s = starts[m]
        r = rows[m]
        row_bytes = int(3 * v)
        if row_bytes == 0 or src.size < row_bytes:
            continue
        # zero-copy window view + 1-D row gather: numpy copies k*row_bytes
        # without materializing a (k, row_bytes) index matrix (~8x cheaper)
        sw = np.lib.stride_tricks.sliding_window_view(src, row_bytes)
        step = max(1, _GATHER_BUDGET // row_bytes)
        for c0 in range(0, s.shape[0], step):
            g = sw[s[c0 : c0 + step]]
            chsum[r[c0 : c0 + step]] = g.reshape(-1, int(v), 3).sum(
                axis=1, dtype=np.int64
            )


_LUMA = (0.299, 0.587, 0.114)


def batch_image_stats(
    data: np.ndarray, offsets: np.ndarray, keep_decoded: bool = False
) -> dict:
    """Fully vectorized per-image stats over a batch of concatenated blobs.

    ``data`` is the raw uint8 byte stream of all blobs back to back (e.g. an
    Arrow BinaryArray's data buffer, zero-copy); ``offsets`` the (n+1,) blob
    boundaries. NO per-image Python loop anywhere: headers parse in one
    parse_headers call; RLE payloads decode with one global np.repeat;
    per-image per-channel sums come from residue-class cumulative sums.

    Returns dict of per-image arrays: lat/lng (f32), ok (bool — magic, layout
    and payload-length checks), w/h/n_pixels (int64), luma_sum (float64,
    0.299 R + 0.587 G + 0.114 B over all pixels, exact integer channel sums),
    ch_sum ((n,3) int64 exact per-channel sums — already computed for luma,
    exposed so downstream mean_r/g/b never re-decode), fmt_code (uint8).

    keep_decoded=True additionally returns ``rle`` = (decoded_stream uint8,
    dstart (n_rle+1,) slice offsets, rle_rows global row indices, good mask)
    so payload consumers (phash verify, resize) reuse the single global
    np.repeat decode instead of re-decoding per image.
    """
    data = np.asarray(data, dtype=np.uint8)
    offsets = np.asarray(offsets, dtype=np.int64)
    n = offsets.shape[0] - 1
    zero = dict(
        lat=np.zeros(n, np.float32), lng=np.zeros(n, np.float32),
        ok=np.zeros(n, bool), w=np.zeros(n, np.int64), h=np.zeros(n, np.int64),
        n_pixels=np.zeros(n, np.int64), luma_sum=np.zeros(n, np.float64),
        ch_sum=np.zeros((n, 3), np.int64), fmt_code=np.zeros(n, np.uint8),
    )
    if keep_decoded:
        zero["rle"] = (
            np.empty(0, np.uint8), np.zeros(1, np.int64),
            np.empty(0, np.int64), np.empty(0, bool),
        )
    if n == 0 or data.size < HEADER_LEN:
        return zero

    hdr, ok = parse_headers(data, offsets)
    starts = offsets[:-1]

    w = hdr["w"].astype(np.int64)
    h = hdr["h"].astype(np.int64)
    fmt = hdr["fmt"]
    npx = w * h
    need = 3 * npx
    ps = starts + HEADER_LEN
    pe = offsets[1:]
    plen = pe - ps

    is_raw = ok & (fmt == FMT_CODES["raw"]) & (plen == need)
    is_qnt = ok & (fmt == FMT_CODES["qnt"]) & (plen == need)
    is_rle = ok & (fmt == FMT_CODES["rle"]) & (plen % 2 == 0)
    ok = is_raw | is_qnt | is_rle

    chsum = np.zeros((n, 3), dtype=np.int64)
    rows_all = np.arange(n, dtype=np.int64)
    rle_out = (
        np.empty(0, np.uint8), np.zeros(1, np.int64),
        np.empty(0, np.int64), np.empty(0, bool),
    )
    if is_raw.any():
        _channel_sums_grouped(data, ps[is_raw], npx[is_raw], rows_all[is_raw], chsum)
    if is_qnt.any():
        _channel_sums_grouped(data, ps[is_qnt], npx[is_qnt], rows_all[is_qnt], chsum)
        # pixel = 4*q + 2 -> channel sum = 4*sum(q) + 2*(w*h)
        chsum[is_qnt] = 4 * chsum[is_qnt] + 2 * npx[is_qnt][:, None]
    if is_rle.any():
        n_pairs = (plen[is_rle] // 2).astype(np.int64)
        pos = _ragged_ramp(ps[is_rle], n_pairs, step=2)
        run_len = data[pos].astype(np.int64)
        run_val = data[pos + 1]
        pair_off = np.concatenate([[0], np.cumsum(n_pairs)])
        run_cum = np.concatenate([[0], np.cumsum(run_len)])
        dec_counts = run_cum[pair_off[1:]] - run_cum[pair_off[:-1]]
        good = dec_counts == need[is_rle]  # wrong decoded size -> drop
        decoded = np.repeat(run_val, run_len)  # ALL rle payloads in one shot
        dstart = np.concatenate([[0], np.cumsum(dec_counts)])
        rle_rows = np.flatnonzero(is_rle)
        ok[rle_rows[~good]] = False
        _channel_sums_grouped(
            decoded, dstart[:-1][good], npx[is_rle][good], rle_rows[good], chsum
        )
        rle_out = (decoded, dstart, rle_rows, good)

    luma = (
        _LUMA[0] * chsum[:, 0] + _LUMA[1] * chsum[:, 1] + _LUMA[2] * chsum[:, 2]
    ).astype(np.float64)
    out = dict(
        lat=hdr["lat"].copy(), lng=hdr["lng"].copy(), ok=ok, w=w, h=h,
        n_pixels=np.where(ok, npx, 0), luma_sum=np.where(ok, luma, 0.0),
        ch_sum=np.where(ok[:, None], chsum, 0), fmt_code=hdr["fmt"].copy(),
    )
    if keep_decoded:
        out["rle"] = rle_out
    return out


def batch_psnr_audit(data: np.ndarray, offsets: np.ndarray, row_idx: np.ndarray) -> dict:
    """Vectorized per-image PSNR audit against RECOMPUTED synthetic pixels.

    The audit's point is recomputing synth_pixels(i, w, h) for every image
    and comparing with the decoded payload — but nothing about that is
    per-image: within a (w, h) shape group the base/gradient grid is shared,
    and the per-image phase/sinusoid terms broadcast over an (n_images, w*h)
    array. One gather pulls every decoded payload into an (n, 3*w*h) matrix
    (raw/qnt straight from the packed stream, rle from batch_image_stats'
    single global decode), so the whole audit is a handful of numpy ops per
    shape group — no per-image Python.

    row_idx: (n,) synthesis indices i. Returns dict with ok (decodable),
    fmt_code, and psnr (float64, +inf for bit-equal) — bitwise identical to
    the scalar psnr(synth_pixels(i,..), decode_image(..)) path because the
    squared-error sums are exact integers.
    """
    st = batch_image_stats(data, offsets, keep_decoded=True)
    n = offsets.shape[0] - 1
    ok = st["ok"]
    out_psnr = np.full(n, np.nan)
    ps = offsets[:-1] + HEADER_LEN
    decoded, dstart, rle_rows, good = st["rle"]
    rle_start = np.full(n, -1, np.int64)
    rle_start[rle_rows[good]] = dstart[:-1][good]
    is_rle_row = np.zeros(n, bool)
    is_rle_row[rle_rows] = True
    fmtc = st["fmt_code"]
    h64, w64 = st["h"], st["w"]
    idx = np.asarray(row_idx, dtype=np.int64)
    okw = np.flatnonzero(ok)
    for hh, ww in set(zip(h64[okw].tolist(), w64[okw].tolist())):
        sel = okw[(h64[okw] == hh) & (w64[okw] == ww)]
        hw = int(hh * ww)
        yy, xx = np.meshgrid(np.arange(hh), np.arange(ww), indexing="ij")
        xf = xx.reshape(-1).astype(np.float64)
        yf = yy.reshape(-1).astype(np.float64)
        sf = (xx + yy).reshape(-1).astype(np.float64)
        base = (xf * 255.0 / max(ww - 1, 1) + yf * 255.0 / max(hh - 1, 1)) / 2.0
        span = np.arange(3 * hw)
        for rows, src, start, qnt in (
            (sel[fmtc[sel] == FMT_CODES["raw"]], data, ps, False),
            (sel[fmtc[sel] == FMT_CODES["qnt"]], data, ps, True),
            (sel[is_rle_row[sel]], decoded, rle_start, False),
        ):
            if rows.shape[0] == 0:
                continue
            i = idx[rows]
            phase = ((i * 37) % 256).astype(np.float64)
            orig = np.empty((rows.shape[0], hw, 3), np.uint8)
            orig[:, :, 0] = base.astype(np.uint8)[None, :]
            orig[:, :, 1] = ((base[None, :] + phase[:, None]) % 256.0).astype(np.uint8)
            orig[:, :, 2] = (
                127.5 + 127.5 * np.sin(sf[None, :] / 7.0 + (i * 0.31)[:, None])
            ).astype(np.uint8)
            dec = src[start[rows][:, None] + span[None, :]]
            if qnt:
                dec = ((dec.astype(np.int64) << 2) + 2).astype(np.uint8)
            err = orig.reshape(rows.shape[0], -1).astype(np.int64) - dec.astype(np.int64)
            sq = np.einsum("ij,ij->i", err, err)
            mse = sq / (3.0 * hw)
            with np.errstate(divide="ignore"):
                out_psnr[rows] = np.where(
                    sq == 0, np.inf, 20.0 * np.log10(255.0 / np.sqrt(mse))
                )
    return {"ok": ok, "fmt_code": fmtc, "psnr": out_psnr}


def pack_blobs(bufs) -> tuple:
    """List of bytes-likes (None tolerated) -> (data uint8, offsets int64)
    for parse_headers and batch_image_stats. One join + one frombuffer, no
    per-row parsing."""
    bufs = [b"" if b is None else b for b in bufs]
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    return data, offsets


def psnr(orig: np.ndarray, decoded: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for bit-identical)."""
    err = orig.astype(np.float64) - decoded.astype(np.float64)
    mse = float(np.mean(err * err))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0 / np.sqrt(mse))
