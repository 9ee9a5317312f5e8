"""Audio payload codecs + vectorized verification UDFs.

Two container formats, both fully deterministic and synthesized in-repo
(FIXTURES.md §1 — no external data, no external codec libraries):

- ``pcm_s16le``: a real 44-byte RIFF/WAVE header + PCM16LE frames,
  written and parsed with numpy only.
- other codecs (flac/opus/aac): *tagged synthetic payloads* — the
  container is ``b"FAKE" + codec[4] + PCM16LE frames``. Real
  decoder libraries are not in this container, so the decode branch for
  them is a clearly-marked deterministic fake; the Spark-side plumbing
  (schema, batching, UDF signature) is real and tested. Swapping in a
  real decoder is a one-function change (`_decode_one`).

All decode/verify work runs inside Arrow-batched pandas UDFs
(mapInPandas) — per-clip waveform math is numpy-vectorized over
samples; no row-at-a-time Python UDFs anywhere (BASELINE.json
input_hint: "no per-row Python").

Reference parity: this is the north-rule analogue of the reference's
vectorized batch model inference (/root/reference/fupi/embedders.py:
41-69 — tokenize+ONNX per batch with per-executor session reuse); here
the per-batch payload work is PCM decode + stats extraction.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FAKE_MAGIC = b"FAKE"

# vectorized batch functions bound their working set to this many
# samples per block — big enough to amortize numpy call overhead, small
# enough that a block's temporaries stay cache-resident when 32 workers
# run side by side (the kernels are memory-bandwidth-bound: 5 streaming
# passes per sample). Overridable for tuning experiments.
import os as _os

_BLOCK_SAMPLES = int(_os.environ.get("FUPI_BLOCK_SAMPLES", "375000"))
# r6: swept 187k-3M at 32 workers — 375k reproducibly ~10% faster than
# the old 1.5M default (float64 temporaries ~3 MB/pass stay closer to
# per-core cache when 32 workers stream side by side); block size only
# batches whole clips, so outputs are bit-identical at any setting


# ---------------------------------------------------------------------------
# container encode/decode (numpy-only, deterministic)
# ---------------------------------------------------------------------------


def wav_encode(pcm: np.ndarray, sr_hz: int) -> bytes:
    """PCM16 mono → RIFF/WAVE bytes (44-byte canonical header)."""
    data = pcm.astype("<i2").tobytes()
    n = len(data)
    hdr = b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16)
    hdr += b"data" + struct.pack("<I", n)
    return hdr + data


def wav_decode(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes → (int16 samples, sr_hz). Only the canonical
    header layout produced by wav_encode is supported."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    sr_hz = struct.unpack("<I", buf[24:28])[0]
    n = struct.unpack("<I", buf[40:44])[0]
    return np.frombuffer(buf[44 : 44 + n], dtype="<i2"), sr_hz


def fake_encode(pcm: np.ndarray, codec: str) -> bytes:
    """Tagged synthetic payload for codecs without an in-container
    decoder. STUB for a real encoder — deterministic fake per task brief."""
    tag = codec.encode()[:4].ljust(4, b"_")
    return FAKE_MAGIC + tag + pcm.astype("<i2").tobytes()


def fake_decode(buf: bytes) -> np.ndarray:
    if buf[:4] != FAKE_MAGIC:
        raise ValueError("not a FAKE-container payload")
    return np.frombuffer(buf[8:], dtype="<i2")


def _decode_one(buf: bytes, codec: str) -> np.ndarray:
    """Single-clip decode branch. Real-codec integration point: replace
    the fake branch with e.g. soundfile/ffmpeg when available."""
    if codec == "pcm_s16le":
        pcm, _sr = wav_decode(bytes(buf))
        return pcm
    return fake_decode(bytes(buf))


# ---------------------------------------------------------------------------
# deterministic waveform synthesis (shared by synth + SNR verification)
# ---------------------------------------------------------------------------

_MIX64 = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the per-row deterministic RNG stream."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + _MIX64) * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z


def clip_seed(clip_id: str) -> np.uint64:
    """Stable 64-bit seed from clip_id (FNV-1a, no Python hash()
    randomization)."""
    h = np.uint64(0xCBF29CE484222325)
    with np.errstate(over="ignore"):
        for b in clip_id.encode():
            h ^= np.uint64(b)
            h *= np.uint64(0x100000001B3)
    return h


def synth_pcm(clip_id: str, sr_hz: int, dur_ms: int) -> np.ndarray:
    """Deterministic PCM16 waveform: 2-4 sine tones + low noise, all
    parameters derived from clip_id. Sample math is numpy-vectorized.
    SNR vs re-synthesis is ≥30 dB by construction (identical bits)."""
    seed = clip_seed(clip_id)
    streams = _splitmix64(seed + np.arange(16, dtype=np.uint64))
    n = max(1, int(sr_hz * dur_ms / 1000))
    t = np.arange(n, dtype=np.float64) / sr_hz
    n_tones = 2 + int(streams[0] % np.uint64(3))
    sig = np.zeros(n)
    for k in range(n_tones):
        freq = 80.0 + float(streams[1 + k] % np.uint64(4000))
        phase = float(streams[5 + k] % np.uint64(1000)) / 1000.0 * 2 * np.pi
        amp = 0.15 + 0.1 * float(streams[9 + k] % np.uint64(100)) / 100.0
        sig += amp * np.sin(2 * np.pi * freq * t + phase)
    # deterministic 'noise': high-frequency tone mixture, -40 dB-ish
    noise_f = 3500.0 + float(streams[13] % np.uint64(500))
    sig += 0.003 * np.sin(2 * np.pi * noise_f * t)
    return np.clip(sig * 32767 / 4, -32768, 32767).astype(np.int16)


def encode_clip(clip_id: str, sr_hz: int, dur_ms: int, codec: str) -> bytes:
    pcm = synth_pcm(clip_id, sr_hz, dur_ms)
    if codec == "pcm_s16le":
        return wav_encode(pcm, sr_hz)
    return fake_encode(pcm, codec)


def synth_pcm_concat(
    clip_ids: list[str], sr_hz: np.ndarray, dur_ms: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched synth_pcm across rows: one set of big numpy ops per
    Arrow batch instead of per-clip calls (round-1's per-clip loop was
    the verify stage's cost center). Returns (concatenated int16
    samples, per-clip sample counts, offsets).

    BIT-IDENTICAL to per-clip synth_pcm (tested): identical expression
    order per sample; inactive tone slots contribute amp=0.0 terms,
    which only perturb the sign of exact zeros — erased by the final
    int16 cast.
    """
    n_clips = len(clip_ids)
    if n_clips == 0:
        return (
            np.empty(0, np.int16),
            np.empty(0, np.int64),
            np.zeros(1, np.int64),
        )
    seeds = np.array([clip_seed(c) for c in clip_ids], dtype=np.uint64)
    with np.errstate(over="ignore"):
        streams = _splitmix64(seeds[:, None] + np.arange(16, dtype=np.uint64)[None, :])
    sr = np.asarray(sr_hz, dtype=np.int64)
    dur = np.asarray(dur_ms, dtype=np.int64)
    n = np.maximum(1, (sr.astype(np.float64) * dur / 1000).astype(np.int64))
    offs = np.zeros(n_clips + 1, np.int64)
    np.cumsum(n, out=offs[1:])
    total = int(offs[-1])
    n_tones = 2 + (streams[:, 0] % np.uint64(3)).astype(np.int64)

    # process in sample-bounded row blocks: unbounded concatenation made
    # every temporary a few-hundred-MB fresh allocation, and this host
    # serializes fresh-page faults across workers (measured 3-5x slower
    # at 32 workers); ~1.5M samples keeps temporaries ~12 MB
    pcm = np.empty(total, np.int16)
    i0 = 0
    while i0 < n_clips:
        i1 = i0 + 1
        while i1 < n_clips and offs[i1 + 1] - offs[i0] <= _BLOCK_SAMPLES:
            i1 += 1
        b_n = n[i0:i1]
        b_offs = offs[i0 : i1 + 1] - offs[i0]
        b_total = int(b_offs[-1])
        rep = np.repeat(np.arange(i1 - i0), b_n)
        t = (np.arange(b_total, dtype=np.float64) - b_offs[:-1][rep]) / sr[
            i0:i1
        ].astype(np.float64)[rep]
        sig = np.zeros(b_total)
        for k in range(4):
            # rows with n_tones <= k are INACTIVE for this slot: the old
            # code still paid a full np.sin pass for them and multiplied
            # by amp=0 (the kernel is sin-bound — ~1 of 5 passes wasted
            # on average). Compute only the active samples instead
            # (gather → sin → scatter-add); this matches the per-clip
            # synth_pcm exactly (it never evaluates inactive slots), and
            # for active samples the elementwise arithmetic is unchanged
            # — bit-identical output (tested vs synth_pcm).
            active = n_tones[i0:i1] > k
            if not active.any():
                continue
            freq = 80.0 + (streams[i0:i1, 1 + k] % np.uint64(4000)).astype(np.float64)
            phase = (streams[i0:i1, 5 + k] % np.uint64(1000)).astype(np.float64) / 1000.0 * 2 * np.pi
            amp = 0.15 + 0.1 * (streams[i0:i1, 9 + k] % np.uint64(100)).astype(np.float64) / 100.0
            # fold the scalar 2π into the PER-ROW freq array before the
            # [rep] expansion: ((2π·f)[rep])·t == 2π·(f[rep])·t element
            # for element (same two float64 multiplies in the same
            # order), but the first form skips one full-length pass
            w = 2 * np.pi * freq
            if active.all():
                sig += amp[rep] * np.sin(w[rep] * t + phase[rep])
            else:
                idx = np.flatnonzero(active[rep])
                ri = rep[idx]
                sig[idx] += amp[ri] * np.sin(w[ri] * t[idx] + phase[ri])
        noise_f = 3500.0 + (streams[i0:i1, 13] % np.uint64(500)).astype(np.float64)
        wn = 2 * np.pi * noise_f  # same fold as the tone loop
        sig += 0.003 * np.sin(wn[rep] * t)
        pcm[offs[i0] : offs[i1]] = np.clip(sig * 32767 / 4, -32768, 32767).astype(np.int16)
        i0 = i1
    return pcm, n, offs


def encode_clips_batch(
    clip_ids: list[str], sr_hz: np.ndarray, dur_ms: np.ndarray, codecs: list[str]
) -> list[bytes]:
    """Batched encode_clip: synthesis vectorized across the whole batch,
    container framing per clip (headers are tiny)."""
    pcm, _n, offs = synth_pcm_concat(clip_ids, sr_hz, dur_ms)
    out = []
    for i, codec in enumerate(codecs):
        chunk = pcm[offs[i] : offs[i + 1]]
        if codec == "pcm_s16le":
            out.append(wav_encode(chunk, int(sr_hz[i])))
        else:
            out.append(fake_encode(chunk, codec))
    return out


def _segment_sums(x: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Per-segment sums via one cumsum (handles zero-length segments,
    unlike reduceat)."""
    cs = np.zeros(len(x) + 1)
    np.cumsum(x, out=cs[1:])
    return cs[offs[1:]] - cs[offs[:-1]]


def _row_chunks(pdf: pd.DataFrame, max_payload_bytes: int) -> Iterator[pd.DataFrame]:
    """Split an Arrow batch into row chunks whose summed payload stays
    under ``max_payload_bytes`` — bounds every temporary in the
    vectorized kernels regardless of clip durations."""
    sizes = np.array([len(b) for b in pdf["bytes"]], np.int64)
    cum = np.cumsum(sizes)
    start = 0
    while start < len(pdf):
        base = cum[start - 1] if start else 0
        # last row with cumulative payload ≤ budget; only a single
        # oversized row may exceed it (the start+1 floor)
        end = int(np.searchsorted(cum, base + max_payload_bytes, side="right"))
        end = max(end, start + 1)
        yield pdf.iloc[start:end]
        start = end


# ---------------------------------------------------------------------------
# vectorized verification / feature-extraction operators (mapInPandas)
# ---------------------------------------------------------------------------

VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("snr_db", T.DoubleType(), True),
        T.StructField("pcm_ok", T.BooleanType(), True),
    ]
)


def _verify_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Vectorized across rows in sample-bounded blocks: reference
    re-synthesis is one synth_pcm_concat call per block; error/signal
    powers are segment sums over the concatenated sample arrays — no
    per-clip numpy calls in the hot path (decode itself is a cheap
    frombuffer per clip). Blocks are bounded by payload size
    (2 bytes/sample → 2x the _BLOCK_SAMPLES budget) so temporaries stay
    ~12 MB however long the clips are."""
    for full in it:
        if len(full) == 0:
            yield pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in VERIFY_SCHEMA.fields}
            )
            continue
        for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
            yield _verify_chunk(pdf)


def _decode_safe(buf: bytes, codec: str) -> np.ndarray:
    """Decode that survives corrupted containers (a torn header must
    yield a failed row, not a crashed task): returns an empty array,
    which the length gate then marks pcm_ok=False."""
    try:
        return _decode_one(buf, codec)
    except (ValueError, struct.error):
        return np.empty(0, np.int16)


def _verify_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    n_rows = len(pdf)
    cids = pdf["clip_id"].tolist()
    srs = pdf["sr_hz"].to_numpy().astype(np.int64)
    durs = pdf["dur_ms"].to_numpy().astype(np.int64)
    ref, n_ref, offs_ref = synth_pcm_concat(cids, srs, durs)
    decs = [_decode_safe(b, c) for b, c in zip(pdf["bytes"], pdf["codec"])]
    n_dec = np.array([len(d) for d in decs], np.int64)
    m = np.minimum(n_dec, n_ref)
    moffs = np.zeros(n_rows + 1, np.int64)
    np.cumsum(m, out=moffs[1:])
    dec_cat = (
        np.concatenate([d[:k] for d, k in zip(decs, m)]).astype(np.float64)
        if moffs[-1]
        else np.empty(0)
    )
    ref_cat = (
        np.concatenate(
            [ref[o : o + k] for o, k in zip(offs_ref[:-1], m)]
        ).astype(np.float64)
        if moffs[-1]
        else np.empty(0)
    )
    err = dec_cat - ref_cat
    p_sig = _segment_sums(ref_cat**2, moffs)
    p_err = _segment_sums(err**2, moffs)
    with np.errstate(divide="ignore"):
        snr = np.where(
            p_err == 0.0,
            np.inf,
            10.0 * np.log10(p_sig / np.where(p_err == 0.0, 1.0, p_err)),
        )
    snr = np.minimum(snr, 999.0)
    ok = (n_dec == n_ref) & (snr >= 30.0)
    return pd.DataFrame(
        {
            "clip_id": cids,
            "n_samples": n_dec,
            "snr_db": snr,
            "pcm_ok": ok,
        }
    )


def verify_clips(clips: DataFrame) -> DataFrame:
    """Decode every clip and SNR-check it against deterministic
    re-synthesis (BASELINE.json correctness gate: allclose at SNR≥30dB).
    Arrow-batched; batch size bounded by arrow.maxRecordsPerBatch so
    binary payloads can't OOM an executor."""
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]
    return clips.select(*cols).mapInPandas(_verify_batches, schema=VERIFY_SCHEMA)


VERIFY_CRC_SCHEMA = T.StructType(
    list(VERIFY_SCHEMA.fields) + [T.StructField("crc_ok", T.BooleanType(), True)]
)


def _verify_batches_crc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """SNR kernel with the JVM-computed checksum verdict carried
    through (integrity.verify_table's sampled path)."""
    for full in it:
        if len(full) == 0:
            yield pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in VERIFY_CRC_SCHEMA.fields}
            )
            continue
        for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
            out = _verify_chunk(pdf)
            out["crc_ok"] = pdf["_crc_ok"].to_numpy()
            yield out


def verify_clips_with_crc(clips: DataFrame) -> DataFrame:
    """As verify_clips, for inputs carrying a precomputed boolean
    ``_crc_ok`` column (see integrity.verify_table)."""
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "_crc_ok"]
    return clips.select(*cols).mapInPandas(
        _verify_batches_crc, schema=VERIFY_CRC_SCHEMA
    )


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
        T.StructField("n_tokens", T.IntegerType(), True),
    ]
)


def _feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Vectorized across rows in sample-bounded blocks (_BLOCK_SAMPLES):
    concatenated decode + segment reductions (sumsq → rms, running max
    → peak, sign-change counts → zero-cross) instead of per-clip numpy
    calls."""
    for full in it:
        if len(full) == 0:
            yield pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in FEATURES_SCHEMA.fields}
            )
            continue
        for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
            yield _feature_chunk(pdf)


def _feature_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    n_rows = len(pdf)
    decs = [_decode_one(b, c) for b, c in zip(pdf["bytes"], pdf["codec"])]
    n = np.array([len(d) for d in decs], np.int64)
    offs = np.zeros(n_rows + 1, np.int64)
    np.cumsum(n, out=offs[1:])
    cat = (
        np.concatenate(decs).astype(np.float64) if offs[-1] else np.empty(0)
    )
    sumsq = _segment_sums(cat**2, offs)
    rms = np.where(n > 0, np.sqrt(sumsq / np.maximum(n, 1)), 0.0)
    # peak: cummax trick — running max within segments via global
    # maximum.reduceat is unsafe on empty segments; use a masked
    # approach: abs values, then per-segment max via sort-free
    # reduceat guarded by n>0 (offsets strictly increasing there)
    abs_cat = np.abs(cat)
    peak = np.zeros(n_rows, np.int64)
    nz = n > 0
    if nz.any():
        starts = offs[:-1][nz]
        peak[nz] = np.maximum.reduceat(abs_cat, starts).astype(np.int64) if len(
            abs_cat
        ) else 0
    # zero-cross: sign changes within each clip (diffs never cross
    # clip boundaries: sum d over [o_i, o_i + n_i - 2])
    if len(cat) > 1:
        d = np.abs(np.diff(np.signbit(cat).astype(np.int8))).astype(np.float64)
        cs = np.zeros(len(d) + 1)
        np.cumsum(d, out=cs[1:])
        hi = np.maximum(offs[1:] - 1, offs[:-1])
        seg_d = cs[hi] - cs[offs[:-1]]
    else:
        seg_d = np.zeros(n_rows)
    zcr = np.where(n > 1, seg_d / np.maximum(n - 1, 1), 0.0)
    n_tokens = [
        sum(1 for t in tr.split(" ") if t) for tr in pdf["transcript"]
    ]
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"].tolist(),
            "n_samples": n,
            "rms": rms,
            "peak": peak.astype(np.int32),
            "zero_cross_rate": zcr,
            "n_tokens": np.array(n_tokens, np.int32),
        }
    )


def extract_features(clips: DataFrame) -> DataFrame:
    """Audio feature extraction (rms/peak/zero-crossings + token count)
    — the training-data-pipeline 'feature-extract' stage over opaque
    binary columns, as a mapInPandas vectorized UDF."""
    cols = ["clip_id", "bytes", "codec", "transcript"]
    return clips.select(*cols).mapInPandas(_feature_batches, schema=FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# resample (multimodal resize stage) — real numpy polyphase kernel
# ---------------------------------------------------------------------------


def _resample_poly_np(x: np.ndarray, up: int, down: int) -> np.ndarray:
    """Rational-rate resampling by L/M: the SAME windowed-sinc lowpass
    (cutoff 1/max(L,M), gain L, 10 zero-crossings per side) sampled on
    the same output grid as the textbook zero-stuff→convolve→decimate
    chain, but computed as a true polyphase gather: each output sample
    only touches the ~filter_len/L taps that hit a real input sample.
    The r1-r5 version materialized the zero-stuffed signal and ran a
    dense np.convolve over it — O(n·L·taps) multiplies, ~7·10^9 MACs
    for ONE 44.1k→16k clip (L=160, 8821 taps); this form is
    O(n_out·taps/L) ≈ 10^5, identical output length and the same
    filter mathematics (SNR/length contracts pytest-pinned).
    Output length = ceil(len(x)*L/M)."""
    from math import gcd

    g = gcd(up, down)
    up, down = up // g, down // g
    x = np.asarray(x, dtype=np.float64)
    if up == 1 and down == 1:
        return x
    m = max(up, down)
    half = 10 * m  # 10 zero-crossings per side
    t = np.arange(-half, half + 1, dtype=np.float64)
    fc = 1.0 / m
    h = fc * np.sinc(fc * t) * np.hamming(2 * half + 1) * up
    n = len(x)
    out_len = -(-n * up // down)  # ceil
    pos = np.arange(out_len, dtype=np.int64) * down  # upsampled-domain index
    # out[j] = Σ_i x[i] · h[pos_j − i·L + half] over taps inside the filter
    i_lo = -(-(pos - half) // up)  # ceil((pos−half)/L)
    taps = 2 * half // up + 2
    idx = i_lo[:, None] + np.arange(taps, dtype=np.int64)[None, :]
    hidx = pos[:, None] - idx * up + half
    valid = (idx >= 0) & (idx < n) & (hidx >= 0) & (hidx <= 2 * half)
    xi = np.where(valid, x[np.clip(idx, 0, n - 1)], 0.0)
    hv = np.where(valid, h[np.clip(hidx, 0, 2 * half)], 0.0)
    return np.einsum("ij,ij->i", xi, hv)


def resample_clips(clips: DataFrame, target_sr: int) -> DataFrame:
    """Resample every clip to ``target_sr`` (the multimodal 'resize'
    stage): decode → polyphase resample → re-encode, vectorized inside
    an Arrow-batched mapInPandas with payload-bounded row chunks.
    Output rows keep clip_id/dur_ms/codec/transcript; sr_hz and the
    payload change. Fake-container codecs are re-framed as-is."""
    from .schema import CLIPS_SCHEMA

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full in it:
            if len(full) == 0:
                yield full
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                out = pdf.copy()
                bufs = []
                for b, codec, sr in zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"]):
                    pcm = _decode_one(b, codec).astype(np.float64)
                    res = _resample_poly_np(pcm, int(target_sr), int(sr))
                    res16 = np.clip(res, -32768, 32767).astype(np.int16)
                    if codec == "pcm_s16le":
                        bufs.append(wav_encode(res16, target_sr))
                    else:
                        bufs.append(fake_encode(res16, codec))
                out["bytes"] = bufs
                out["sr_hz"] = np.int32(target_sr)
                yield out[[f.name for f in CLIPS_SCHEMA.fields]]

    cols = [f.name for f in CLIPS_SCHEMA.fields]
    return clips.select(*cols).mapInPandas(run, schema=CLIPS_SCHEMA)


def chunk_clips(clips: DataFrame, window_ms: int) -> DataFrame:
    """Fixed-window chunking — the training-data 1→N explode for long
    audio (whisper-style windows, VAD-free): decode → split into
    ``window_ms`` windows (the last partial window is KEPT, never
    padded — a chunk always holds real samples) → re-encode each chunk
    in the parent's codec. Output rows are clip-shaped with
    ``clip_id = "<parent>#<index>"`` (zero-padded, so lexicographic
    order == chunk order) and dur_ms of the actual chunk.

    Length contract (the oracle's hook): a parent decoding to n0
    samples at sr with W = max(1, sr·window_ms // 1000) emits
    ceil(n0 / W) chunks; every chunk has W samples except the last,
    which has n0 − W·(chunks−1).

    Scale notes: pure mapInPandas over payload-bounded row chunks —
    linear, no shuffle; the 1→N fan-out multiplies rows, not bytes."""
    from .schema import CLIPS_SCHEMA

    cols = [f.name for f in CLIPS_SCHEMA.fields]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full in it:
            if len(full) == 0:
                yield full
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                out = {c: [] for c in cols}
                for cid, b, sr, codec, tr in zip(
                    pdf["clip_id"], pdf["bytes"], pdf["sr_hz"],
                    pdf["codec"], pdf["transcript"],
                ):
                    pcm = _decode_one(b, codec)
                    w = max(1, int(sr) * window_ms // 1000)
                    n0 = len(pcm)
                    k = max(1, -(-n0 // w))
                    for j in range(k):
                        seg = pcm[j * w : (j + 1) * w]
                        enc = (
                            wav_encode(seg, int(sr))
                            if codec == "pcm_s16le"
                            else fake_encode(seg, codec)
                        )
                        out["clip_id"].append(f"{cid}#{j:04d}")
                        out["bytes"].append(enc)
                        out["sr_hz"].append(np.int32(sr))
                        out["dur_ms"].append(
                            np.int32(round(len(seg) * 1000 / int(sr)))
                        )
                        out["codec"].append(codec)
                        out["transcript"].append(tr)
                yield pd.DataFrame(out)[cols]

    return clips.select(*cols).mapInPandas(run, schema=CLIPS_SCHEMA)


# ---------------------------------------------------------------------------
# energy-based VAD segmentation (silence detection over real payload
# bytes; the corpus-pipeline step that gates ASR/training windows)
# ---------------------------------------------------------------------------

VAD_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("first_voiced", T.LongType(), True),
        T.StructField("n_voiced", T.LongType(), False),
    ]
)


def plant_silence(clips: DataFrame, frame_ms: int = 20) -> DataFrame:
    """Zero the first ``sil_frames`` full frames of each clip's PCM
    (frame = max(1, sr·frame_ms // 1000) samples) and re-encode in the
    parent codec; ``sil_frames`` is seeded per clip_id over
    [0, n_frames] inclusive, so some clips come out fully silent. The
    output carries an extra ``sil_frames`` column — the planted spec a
    VAD oracle audits against (write it to a sidecar, then drop it)."""
    from .schema import CLIPS_SCHEMA

    cols = [f.name for f in CLIPS_SCHEMA.fields]
    out_schema = T.StructType(
        CLIPS_SCHEMA.fields + [T.StructField("sil_frames", T.LongType(), False)]
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full in it:
            if len(full) == 0:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype=object) for f in out_schema.fields}
                )
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                pdf = pdf.copy()
                new_bytes, sils = [], []
                for cid, b, sr, codec in zip(
                    pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
                ):
                    pcm = _decode_one(b, codec).copy()
                    fs = max(1, int(sr) * frame_ms // 1000)
                    n_frames = len(pcm) // fs
                    sil = int(clip_seed(cid + "::sil") % np.uint64(n_frames + 1))
                    pcm[: sil * fs] = 0
                    new_bytes.append(
                        wav_encode(pcm, int(sr))
                        if codec == "pcm_s16le"
                        else fake_encode(pcm, codec)
                    )
                    sils.append(sil)
                pdf["bytes"] = new_bytes
                pdf["sil_frames"] = np.array(sils, np.int64)
                yield pdf[[f.name for f in out_schema.fields]]

    return clips.select(*cols).mapInPandas(run, schema=out_schema)


def vad_segments(
    clips: DataFrame, frame_ms: int = 20, threshold: float = 1.0
) -> DataFrame:
    """Energy VAD over actual payload bytes: decode, split into FULL
    frames of max(1, sr·frame_ms // 1000) samples (a trailing partial
    frame is ignored — its RMS is statistically unstable), mark a frame
    voiced when its RMS ≥ ``threshold`` (int16 units; digital silence
    is exactly 0, so any real signal clears a threshold of 1.0), and
    emit per clip: frame count, index of the first voiced frame (NULL
    when fully silent), and the voiced-frame count.

    Frame energies come from one cumsum of x² per clip (no per-frame
    python); rows stream through payload-bounded mapInPandas blocks —
    linear, shuffle-free, the same scale shape as verify/chunk."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full in it:
            if len(full) == 0:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype=object) for f in VAD_SCHEMA.fields}
                )
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                out = {c: [] for c in ("clip_id", "n_frames", "first_voiced", "n_voiced")}
                for cid, b, sr, codec in zip(
                    pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
                ):
                    pcm = _decode_safe(b, codec)
                    fs = max(1, int(sr) * frame_ms // 1000)
                    k = len(pcm) // fs
                    if k == 0:
                        voiced = np.zeros(0, bool)
                    else:
                        x = pcm[: k * fs].astype(np.float64)
                        cs = np.zeros(k * fs + 1)
                        np.cumsum(x * x, out=cs[1:])
                        sums = cs[np.arange(1, k + 1) * fs] - cs[np.arange(k) * fs]
                        voiced = np.sqrt(sums / fs) >= threshold
                    idx = int(np.argmax(voiced)) if voiced.any() else None
                    out["clip_id"].append(cid)
                    out["n_frames"].append(k)
                    out["first_voiced"].append(idx)
                    out["n_voiced"].append(int(voiced.sum()))
                yield pd.DataFrame(out)

    return clips.mapInPandas(run, schema=VAD_SCHEMA)


# ---------------------------------------------------------------------------
# orthogonal-tone spectral probe (dropped-tone detection over real
# payload bytes — the spectral-fingerprint integrity check)
# ---------------------------------------------------------------------------

#: analysis window: probe tones sit on exact FFT bins of this window,
#: so over the first _PROBE_N samples distinct probe tones are EXACTLY
#: orthogonal (zero spectral leakage — the detection margin is
#: amp^2·N^2/4 vs int16 quantization noise, ~70 dB, fully deterministic)
_PROBE_N = 2048
_PROBE_SLOTS = 4


def probe_bins(clip_id: str) -> np.ndarray:
    """The clip's 4 seeded probe-tone bins — a PUBLIC deterministic
    function of clip_id (prep and detector both derive it; the sidecar
    never carries the frequencies, only which tone was dropped). Slot m
    draws from a disjoint 64-bin band starting at 64 + 96m, so bins are
    always distinct, ≥64 (no DC/low-frequency encode artifacts) and
    <416 ≪ N/2 (below Nyquist for every sr)."""
    seed = clip_seed(clip_id + "::probe")
    streams = _splitmix64(seed + np.arange(_PROBE_SLOTS, dtype=np.uint64))
    return 64 + 96 * np.arange(_PROBE_SLOTS) + (
        streams % np.uint64(64)
    ).astype(np.int64)


def plant_tone_drop(clips: DataFrame) -> DataFrame:
    """Replace each clip's payload with 3 of its 4 seeded probe tones
    (the dropped slot is seeded too) re-encoded in the parent codec,
    and report the planted ``dropped`` slot alongside — write it to a
    sidecar, then drop the column before handing the clips to
    :func:`detect_missing_tone`."""
    from .schema import CLIPS_SCHEMA

    cols = [f.name for f in CLIPS_SCHEMA.fields]
    out_schema = T.StructType(
        CLIPS_SCHEMA.fields + [T.StructField("dropped", T.LongType(), False)]
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full in it:
            if len(full) == 0:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype=object) for f in out_schema.fields}
                )
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                pdf = pdf.copy()
                new_bytes, drops = [], []
                for cid, sr, dur, codec in zip(
                    pdf["clip_id"], pdf["sr_hz"], pdf["dur_ms"], pdf["codec"]
                ):
                    n = max(_PROBE_N, int(int(sr) * int(dur) / 1000))
                    bins = probe_bins(cid)
                    j = int(clip_seed(cid + "::drop") % np.uint64(_PROBE_SLOTS))
                    t = np.arange(n, dtype=np.float64)
                    sig = np.zeros(n)
                    for m in range(_PROBE_SLOTS):
                        if m == j:
                            continue
                        amp = 0.15 + 0.02 * m
                        sig += amp * np.sin(
                            2 * np.pi * bins[m] * t / _PROBE_N
                        )
                    pcm = np.clip(sig * 32767 / 4, -32768, 32767).astype(
                        np.int16
                    )
                    new_bytes.append(
                        wav_encode(pcm, int(sr))
                        if codec == "pcm_s16le"
                        else fake_encode(pcm, codec)
                    )
                    drops.append(j)
                pdf["bytes"] = new_bytes
                pdf["dropped"] = np.array(drops, np.int64)
                yield pdf[[f.name for f in out_schema.fields]]

    return clips.select(*cols).mapInPandas(run, schema=out_schema)


TONE_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("missing_tone", T.LongType(), False),
        T.StructField("margin_ok", T.BooleanType(), False),
    ]
)


def detect_missing_tone(clips: DataFrame) -> DataFrame:
    """Detect which of the clip's 4 seeded probe tones is ABSENT from
    the actual payload: decode, project the first _PROBE_N samples onto
    the cos/sin basis of each probe bin (one 8×N matmul per clip — the
    tones are exact-bin so present/absent separate by construction, not
    statistically), emit argmin-power slot plus a margin flag (weakest
    present tone ≥ 100× the missing slot's residual — asserts the
    detection wasn't a coin flip)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(_PROBE_N, dtype=np.float64)
        for full in it:
            if len(full) == 0:
                yield pd.DataFrame(
                    {
                        f.name: pd.Series(dtype=object)
                        for f in TONE_PROBE_SCHEMA.fields
                    }
                )
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                out = {c: [] for c in ("clip_id", "missing_tone", "margin_ok")}
                for cid, b, codec in zip(
                    pdf["clip_id"], pdf["bytes"], pdf["codec"]
                ):
                    x = _decode_safe(b, codec)[:_PROBE_N].astype(np.float64)
                    if len(x) < _PROBE_N:  # short clip: zero-pad (tones
                        # stay near-orthogonal; margin flag reports if not)
                        x = np.pad(x, (0, _PROBE_N - len(x)))
                    bins = probe_bins(cid)
                    ang = 2 * np.pi * np.outer(bins, t) / _PROBE_N
                    basis = np.concatenate([np.cos(ang), np.sin(ang)])
                    proj = basis @ x
                    power = proj[:_PROBE_SLOTS] ** 2 + proj[_PROBE_SLOTS:] ** 2
                    j = int(np.argmin(power))
                    present = np.delete(power, j)
                    margin = bool(
                        present.min() >= 100.0 * max(power[j], 1e-12)
                    )
                    out["clip_id"].append(cid)
                    out["missing_tone"].append(j)
                    out["margin_ok"].append(margin)
                yield pd.DataFrame(out)

    return clips.mapInPandas(run, schema=TONE_PROBE_SCHEMA)


def trim_silence(
    clips: DataFrame, frame_ms: int = 20, threshold: float = 1.0
) -> DataFrame:
    """Drop each clip's leading silent FULL frames (same framing and
    RMS rule as :func:`vad_segments`) from the actual payload,
    re-encode in the parent codec, and update ``dur_ms`` to the
    trimmed length (``n_samples * 1000 div sr``). A clip with no
    voiced frame loses all its full frames (the unstable trailing
    partial frame is kept, mirroring vad_segments' contract). Built to
    ride :func:`transform.transform_payloads` as a payload-mutating
    table rewrite."""
    out_schema = clips.schema

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full in it:
            if len(full) == 0:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype=object) for f in out_schema.fields}
                )
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                pdf = pdf.copy()
                new_bytes, new_dur = [], []
                for b, sr, dur, codec in zip(
                    pdf["bytes"], pdf["sr_hz"], pdf["dur_ms"], pdf["codec"]
                ):
                    pcm = _decode_safe(b, codec)
                    fs = max(1, int(sr) * frame_ms // 1000)
                    k = len(pcm) // fs
                    trim = k
                    if k > 0:
                        x = pcm[: k * fs].astype(np.float64)
                        cs = np.zeros(k * fs + 1)
                        np.cumsum(x * x, out=cs[1:])
                        sums = (
                            cs[np.arange(1, k + 1) * fs]
                            - cs[np.arange(k) * fs]
                        )
                        voiced = np.sqrt(sums / fs) >= threshold
                        trim = int(np.argmax(voiced)) if voiced.any() else k
                    if trim == 0:
                        # nothing to trim: pass the row through BIT-
                        # IDENTICAL (no re-encode, no dur round-trip —
                        # sr*dur/1000 floors twice otherwise and can
                        # shrink dur_ms by 1 on an untouched clip)
                        new_bytes.append(b)
                        new_dur.append(int(dur))
                        continue
                    out = pcm[trim * fs :]
                    new_bytes.append(
                        wav_encode(out, int(sr))
                        if codec == "pcm_s16le"
                        else fake_encode(out, codec)
                    )
                    new_dur.append(len(out) * 1000 // int(sr))
                pdf["bytes"] = new_bytes
                pdf["dur_ms"] = np.array(new_dur, np.int32)
                yield pdf[[f.name for f in out_schema.fields]]

    return clips.mapInPandas(run, schema=out_schema)
