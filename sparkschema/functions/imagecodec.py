"""Deterministic image codec + PSNR kernels (numpy, executor-safe).

No image libraries ship in this environment (FIXTURES.md §1), so images are
a self-describing raw-RGB container; the "lossy" format is a 6-bit/channel
quantization whose worst-case error (≤3/255 per sample) keeps PSNR ≥ 40 dB
— exactly the BASELINE.json round-trip invariant. Real JPEG/PNG decode
would slot into :func:`decode` behind the same interface; the gate reads
images through operators.imagedup, imagemeta and roundtrip.

Layout (little-endian):
  magic ``b"SSI1"`` | u16 w | u16 h | u8 fmt_code | payload
  fmt raw  (0): w*h*3 bytes verbatim
  fmt rawz (1): zlib-compressed w*h*3 bytes
  fmt jpg  (2) / png (3): w*h*3 bytes quantized to 6 bits/channel
                (stored post-quantization; decode is exact on the stored
                data, loss is vs the original pixels)
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"SSI1"
FMT_CODES = {"raw": 0, "rawz": 1, "jpg": 2, "png": 3}
FMT_NAMES = {v: k for k, v in FMT_CODES.items()}
_QUANT_MASK = 0xFC  # 6 bits/channel: max abs error 3 → PSNR ≈ 42.9 dB


class CorruptImage(ValueError):
    pass


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels: uint8 array (h, w, 3) → container bytes."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    code = FMT_CODES[fmt]
    header = MAGIC + struct.pack("<HHB", w, h, code)
    if fmt == "raw":
        payload = pixels.tobytes()
    elif fmt == "rawz":
        payload = zlib.compress(pixels.tobytes(), level=1)
    else:  # lossy: quantize then store
        payload = (pixels & _QUANT_MASK).tobytes()
    return header + payload


def decode(buf: bytes) -> tuple[np.ndarray, str]:
    """container bytes → (uint8 (h, w, 3), fmt name). Raises CorruptImage."""
    if buf is None or len(buf) < 9 or buf[:4] != MAGIC:
        raise CorruptImage("bad header")
    w, h, code = struct.unpack("<HHB", buf[4:9])
    if code not in FMT_NAMES:
        raise CorruptImage(f"unknown fmt code {code}")
    fmt = FMT_NAMES[code]
    payload = buf[9:]
    expected = w * h * 3
    if fmt == "rawz":
        # BOUNDED decompression: an unbounded zlib.decompress let a
        # ~13 MB crafted/corrupt blob expand ~1000:1 into executor
        # memory before the length check (review find r4) — cap at the
        # header-declared size and treat any overflow as corruption
        try:
            dec = zlib.decompressobj()
            payload = dec.decompress(payload, expected + 1)
            if len(payload) > expected or dec.unconsumed_tail:
                raise CorruptImage("rawz payload larger than header dims")
        except zlib.error as e:
            raise CorruptImage(f"zlib: {e}") from None
    if len(payload) != expected:
        raise CorruptImage(f"payload {len(payload)} != {expected}")
    return np.frombuffer(payload, dtype=np.uint8).reshape(h, w, 3), fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images.
    Identical images → inf.

    Integer arithmetic on purpose: int16 diff + int64-accumulated square
    is exact and moves 4× less memory than the float64 textbook form —
    this kernel is the hot loop of the round-trip check."""
    if a.shape != b.shape:
        return float("-inf")
    diff = a.astype(np.int16) - b.astype(np.int16)
    sq_sum = int(np.einsum("ijk,ijk->", diff, diff, dtype=np.int64))
    if sq_sum == 0:
        return float("inf")
    mse = sq_sum / a.size
    return float(10.0 * np.log10(255.0**2 / mse))


def psnr_bytes(buf_a: bytes, buf_b: bytes) -> float:
    """PSNR between two encoded buffers; -inf on shape mismatch, nan on
    corruption (the caller maps nan → corrupt-bytes violation)."""
    try:
        a, _ = decode(buf_a)
        b, _ = decode(buf_b)
    except CorruptImage:
        return float("nan")
    return psnr(a, b)


_DCT32 = None
_BIT_WEIGHTS = (np.uint64(1) << np.arange(64, dtype=np.uint64))


def _dct_matrix(n: int = 32) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (numpy-only; no scipy here)."""
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)) \
        * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


def dct_phash(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an image (classic pHash shape):
    grayscale → 32×32 area-mean downsample → 2-D DCT-II → top-left 8×8
    low-frequency block → each bit = coefficient > median (DC excluded
    from the median so flat images don't degenerate).

    Deterministic pure numpy; robust to the engine codec's 6-bit
    quantization (lossy fmts flip at most a few of the 64 bits), so
    re-encodes of the same picture land within a small Hamming radius
    while independent pictures differ in ~32 bits."""
    global _DCT32
    if _DCT32 is None:
        _DCT32 = _dct_matrix(32)
    # channel-slice adds, NOT astype(f64).mean(axis=2): a+b+c ≤ 765 is
    # exact in float64 under ANY summation order, so this is bit-identical
    # to the mean form (persisted-signature value contract) while skipping
    # the h×w×3 float64 materialization — measured 5× on this hot step
    p64 = pixels[:, :, 0].astype(np.float64)
    gray = (p64 + pixels[:, :, 1] + pixels[:, :, 2]) / 3.0
    h, w = gray.shape
    # area-mean resize to 32×32 via reduceat block sums (exact for any
    # h, w ≥ 1; degenerate dims sample the nearest row/col)
    # per-AXIS: area-mean reduce any axis >= 32, nearest-sample only the
    # degenerate axis — the old all-or-nothing fallback sampled 32 of
    # 2000 rows for a 2000x16 image, aliasing the hash (review find r4)
    yb = np.minimum((np.arange(32) * h) // 32, h - 1).astype(np.intp)
    xb = np.minimum((np.arange(32) * w) // 32, w - 1).astype(np.intp)
    if h >= 32:
        small = np.add.reduceat(gray, yb, axis=0)
        ycnt = np.diff(np.append(yb, h))
        small = small / ycnt[:, None]
    else:
        small = gray[yb, :]
    if w >= 32:
        small = np.add.reduceat(small, xb, axis=1)
        xcnt = np.diff(np.append(xb, w))
        small = small / xcnt[None, :]
    else:
        small = small[:, xb]
    coef = (_DCT32 @ small @ _DCT32.T)[:8, :8].ravel()
    med = np.median(coef[1:])
    bits = coef > med
    # vectorized little-endian pack == the bit loop `out |= 1 << i`
    # (uint64 dot is exact mod 2^64, which is the packing semantics)
    out = int(bits.astype(np.uint64) @ _BIT_WEIGHTS)
    # two's-complement into int64 range (Spark LongType)
    return out - (1 << 64) if out >= (1 << 63) else out


def phash_bytes(buf: bytes) -> int | None:
    """pHash of an encoded container; None for corrupt buffers — including
    degenerate w=0/h=0 containers, which pass :func:`decode` (0 == 0·0·3
    payload) but have no pixels to hash."""
    try:
        pixels, _ = decode(buf)
    except CorruptImage:
        return None
    if pixels.size == 0:
        return None
    return dct_phash(pixels)


def stable_seed(image_id: str, seed: int = 42) -> int:
    """Process-independent seed for an id (Python's ``hash`` is salted per
    process and would differ between driver and executors)."""
    import hashlib

    digest = hashlib.blake2b(f"{image_id}:{seed}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little")


def synth_pixels(image_id: str, w: int, h: int, seed: int = 42) -> np.ndarray:
    """Deterministic pixels for an image id (seeded, reproducible across
    driver/executors — FIXTURES.md seed=42 convention)."""
    rng = np.random.default_rng(stable_seed(image_id, seed))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
