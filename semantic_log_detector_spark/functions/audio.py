"""Audio payload handling: WAV PCM codec + spectral features, pure numpy.

The reference embeds *text* with Sentence-BERT (`src/detection/pipeline.py:65-68`,
contract in SURVEY.md §0.1/X1); this graft's payload is audio, so the
"embedding" seam becomes PCM decode → log-mel / MFCC features. Everything
here is batch-vectorized numpy intended to run inside the Arrow kernels of
the payload passes (`decode_batch` is their one decoder; see
sources/payload_scan.py) — never per-row Python on the Spark hot path.

Codec support — five REAL in-container codecs: ``pcm_s16le`` (RIFF/WAV,
layout-complete: 8/16/24/32-bit PCM, IEEE float, G.711-in-WAV,
WAVE_FORMAT_EXTENSIBLE, N-channel downmix), ``flac`` (pure-numpy full
decoder, functions/flac.py — FIXED/LPC prediction, Rice residuals, wasted
bits, all stereo assignments, CRC-8/16 + MD5 verification), ``mulaw`` / ``alaw`` (ITU-T
G.711, functions/g711.py — table-exact decode, ≈37 dB round-trip) and
``adpcm_ima`` (IMA/DVI 4-bit ADPCM, functions/adpcm.py — block-vectorized,
decode bit-exact vs the scalar spec reference). ``opus`` / ``mp3`` decode
requires external codecs that are not in this container: those payloads are
produced by the deterministic synthetic source as WAV-framed PCM, and
`decode_clip` dispatches them to a clearly-marked deterministic-fake path
(same WAV parse). A production build would swap `_decode_fake` for a real
codec call with the same signature.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------- WAV IO

_RIFF_HDR = struct.Struct("<4sI4s")  # 'RIFF', size, 'WAVE'
_FMT_CHUNK = struct.Struct("<4sIHHIIHH")  # 'fmt ', 16, tag, ch, sr, brate, align, bits
_DATA_HDR = struct.Struct("<4sI")


def encode_wav(pcm: np.ndarray, sr_hz: int) -> bytes:
    """float32 [-1,1] → 16-bit PCM RIFF/WAV bytes.

    1-D input encodes mono (byte-identical to every prior round); a 2-D
    ``(n_samples, n_channels)`` array encodes interleaved multi-channel —
    the stereo fixture path for the round-5 downmix decode."""
    arr = np.asarray(pcm, dtype=np.float64)
    channels = 1 if arr.ndim == 1 else int(arr.shape[1])
    ints = np.clip(arr * 32767.0, -32768, 32767)
    data = ints.astype("<i2").tobytes()  # C-order: interleaved for 2-D
    n = len(data)
    hdr = _RIFF_HDR.pack(b"RIFF", 36 + n, b"WAVE")
    block = 2 * channels
    fmt = _FMT_CHUNK.pack(b"fmt ", 16, 1, channels, sr_hz, sr_hz * block, block, 16)
    return hdr + fmt + _DATA_HDR.pack(b"data", n) + data


def encode_wav_ex(
    pcm: np.ndarray,
    sr_hz: int,
    bits: int = 16,
    fmt: str = "pcm",
    extensible: bool = False,
) -> bytes:
    """Fixture encoder for every WAV layout :func:`decode_wav` accepts.

    ``fmt`` ∈ {pcm, float, alaw, mulaw}; ``bits`` ∈ {8,16,24,32} for pcm,
    {32,64} for float, 8 for alaw/mulaw. ``extensible=True`` wraps the
    format in WAVE_FORMAT_EXTENSIBLE with the standard subformat GUID.
    1-D input is mono; (n, ch) input is interleaved multi-channel.
    ``encode_wav`` remains the byte-stable 16-bit fast path.
    """
    arr = np.asarray(pcm, dtype=np.float64)
    channels = 1 if arr.ndim == 1 else int(arr.shape[1])
    flat = arr.reshape(-1)  # C-order: interleaved for 2-D
    if fmt == "pcm":
        if bits == 16:
            data = np.clip(flat * 32767.0, -32768, 32767).astype("<i2").tobytes()
        elif bits == 8:
            data = (
                (np.clip(flat * 127.0, -128, 127) + 128).astype(np.uint8).tobytes()
            )
        elif bits == 24:
            v = np.clip(flat * 8388607.0, -8388608, 8388607).astype(np.int64)
            v = (v & 0xFFFFFF).astype(np.uint32)
            b = np.empty((len(v), 3), dtype=np.uint8)
            b[:, 0] = v & 0xFF
            b[:, 1] = (v >> 8) & 0xFF
            b[:, 2] = (v >> 16) & 0xFF
            data = b.tobytes()
        elif bits == 32:
            data = (
                np.clip(flat * 2147483647.0, -2147483648, 2147483647)
                .astype("<i4")
                .tobytes()
            )
        else:
            raise ValueError(f"pcm bits must be 8/16/24/32, got {bits}")
        tag = _WAVE_FMT_PCM
    elif fmt == "float":
        if bits == 32:
            data = flat.astype("<f4").tobytes()
        elif bits == 64:
            data = flat.astype("<f8").tobytes()
        else:
            raise ValueError(f"float bits must be 32/64, got {bits}")
        tag = _WAVE_FMT_FLOAT
    elif fmt in ("alaw", "mulaw"):
        if bits != 8:
            raise ValueError(f"{fmt} is 8-bit only, got {bits}")
        from .g711 import alaw_encode_i16, mulaw_encode_i16

        i16 = np.clip(flat * 32767.0, -32768, 32767).astype(np.int16)
        enc = alaw_encode_i16 if fmt == "alaw" else mulaw_encode_i16
        data = enc(i16).tobytes()
        tag = _WAVE_FMT_ALAW if fmt == "alaw" else _WAVE_FMT_MULAW
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    n = len(data)
    block = (bits // 8) * channels
    if extensible:
        guid = tag.to_bytes(2, "little") + b"\x00\x00" + _GUID_TAIL
        fmt_chunk = (
            struct.pack(
                "<4sIHHIIHH", b"fmt ", 40, _WAVE_FMT_EXTENSIBLE, channels, sr_hz,
                sr_hz * block, block, bits,
            )
            + struct.pack("<HHI", 22, bits, 0)
            + guid
        )
    else:
        fmt_chunk = struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, tag, channels, sr_hz, sr_hz * block, block,
            bits,
        )
    hdr = _RIFF_HDR.pack(b"RIFF", 4 + len(fmt_chunk) + 8 + n + (n & 1), b"WAVE")
    return (
        hdr + fmt_chunk + _DATA_HDR.pack(b"data", n) + data
        + (b"\x00" if n & 1 else b"")
    )


def resample_linear(pcm: np.ndarray, sr_hz: int, target_hz: int) -> np.ndarray:
    """Linear-interpolation resample to ``target_hz`` (float32).

    Sample-rate normalization for rate-invariant analysis (the acoustic
    fingerprint canonicalizes every clip to one rate before the FFT).
    Linear interp has a sinc² high-frequency rolloff and no anti-alias
    filter on downsampling — adequate for band-energy comparisons below
    the lower Nyquist, NOT a mastering-grade SRC (a production build
    would register a polyphase resampler the same way it registers real
    opus/mp3 decoders)."""
    if sr_hz == target_hz:
        return pcm
    if sr_hz <= 0 or target_hz <= 0:
        raise ValueError(f"invalid sample rates {sr_hz}->{target_hz}")
    n_out = int(round(len(pcm) * target_hz / sr_hz))
    xp = np.arange(len(pcm), dtype=np.float64) / sr_hz
    xq = np.arange(n_out, dtype=np.float64) / target_hz
    return np.interp(xq, xp, pcm).astype(np.float32)


# WAVE format tags this decoder understands. 0xFFFE (EXTENSIBLE) wraps one of
# the others in a GUID whose Data1 low word is the effective tag and whose
# remaining 12 bytes are fixed by the spec (ksmedia.h KSDATAFORMAT_SUBTYPE_*).
_WAVE_FMT_PCM, _WAVE_FMT_FLOAT = 1, 3
_WAVE_FMT_ALAW, _WAVE_FMT_MULAW = 6, 7
_WAVE_FMT_EXTENSIBLE = 0xFFFE
_GUID_TAIL = b"\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"


def _wav_samples(tag: int, bits: int, data: bytes) -> tuple[np.ndarray, float]:
    """data chunk → (sample array, full-scale divisor).

    Integer layouts return the raw integer samples (downmix averages these
    exactly, matching the historical 16-bit behavior bit-for-bit); float
    layouts return the samples as-is with divisor 1.0.
    """
    if tag == _WAVE_FMT_PCM:
        if bits == 16:
            return np.frombuffer(data, dtype="<i2"), 32767.0
        if bits == 8:  # 8-bit WAV PCM is unsigned, midpoint 128
            u = np.frombuffer(data, dtype=np.uint8)
            return u.astype(np.int16) - 128, 127.0
        if bits == 24:  # packed 3-byte little-endian two's-complement
            if len(data) % 3:
                raise ValueError("24-bit data chunk not a multiple of 3 bytes")
            b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            return (v ^ 0x800000) - 0x800000, 8388607.0
        if bits == 32:
            return np.frombuffer(data, dtype="<i4"), 2147483647.0
    elif tag == _WAVE_FMT_FLOAT:
        if bits == 32:
            return np.frombuffer(data, dtype="<f4"), 1.0
        if bits == 64:
            return np.frombuffer(data, dtype="<f8"), 1.0
    elif tag in (_WAVE_FMT_ALAW, _WAVE_FMT_MULAW) and bits == 8:
        from .g711 import alaw_decode_u8, mulaw_decode_u8

        dec = alaw_decode_u8 if tag == _WAVE_FMT_ALAW else mulaw_decode_u8
        return dec(np.frombuffer(data, dtype=np.uint8)), 32767.0
    raise ValueError(f"unsupported WAV layout tag={tag} bits={bits}")


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAV → (float32 mono pcm in [-1,1], sr_hz).

    Accepts the layouts a real corpus actually ships: integer PCM at
    8/16/24/32 bits (tag 1), IEEE float32/float64 (tag 3), G.711 A-law and
    µ-law in WAV framing (tags 6/7 — telephony exports), and
    WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE) wrapping any of those, with the
    subformat GUID tail validated against the spec constant so a
    non-standard subformat refuses instead of mis-parsing. The 16-bit mono
    path is bit-for-bit the historical fast path. Multi-channel payloads
    (any channel count) are downmixed at decode time — mean over channels
    on the raw integer samples, so a clip whose channels are identical
    decodes bit-for-bit equal to its mono twin. Raises ValueError on
    malformed/truncated payloads — the decode check turns that into a
    violation row rather than failing the job.
    """
    if buf is None or len(buf) < 44:
        raise ValueError("payload too short for WAV header")
    riff, _, wave = _RIFF_HDR.unpack_from(buf, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    # walk chunks
    off, fmt_body, data = 12, None, None
    while off + 8 <= len(buf):
        cid, csize = _DATA_HDR.unpack_from(buf, off)
        body = off + 8
        if cid == b"fmt " and body + 16 <= len(buf):
            fmt_body = buf[body : min(body + csize, len(buf))]
        elif cid == b"data":
            if body + csize > len(buf):
                raise ValueError(
                    f"truncated data chunk: declares {csize} bytes, "
                    f"{len(buf) - body} available"
                )
            data = buf[body : body + csize]
        off = body + csize + (csize & 1)
    if fmt_body is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt_body) < 16:
        # a fmt chunk DECLARING csize < 16: the buffer-length guard above
        # can pass on later chunks' bytes while the sliced body stays
        # short — keep the ValueError contract, not a struct.error
        raise ValueError(f"fmt chunk too short: {len(fmt_body)} < 16 bytes")
    (tag, channels, sr_hz, _br, _ba, bits) = struct.unpack_from("<HHIIHH", fmt_body, 0)
    if tag == _WAVE_FMT_EXTENSIBLE:
        # 16 base bytes + cbSize(2) + validBits(2) + channelMask(4) + GUID(16)
        if len(fmt_body) < 40:
            raise ValueError("WAVE_FORMAT_EXTENSIBLE fmt chunk shorter than 40 bytes")
        guid = fmt_body[24:40]
        if guid[4:16] != _GUID_TAIL:
            raise ValueError(
                f"non-standard WAVE_FORMAT_EXTENSIBLE subformat GUID {guid.hex()}"
            )
        tag = int.from_bytes(guid[:2], "little")
        valid_bits = int.from_bytes(fmt_body[18:20], "little")
        if valid_bits and valid_bits != bits:
            raise ValueError(
                f"container stores {bits}-bit samples but only {valid_bits} are "
                "valid — padded layouts not supported"
            )
    if channels < 1:
        raise ValueError(f"unsupported WAV layout channels={channels}")
    samples, scale = _wav_samples(tag, bits, data)
    if channels == 1:
        pcm = samples.astype(np.float32) / np.float32(scale)
    else:
        if len(samples) % channels:
            raise ValueError(
                f"data chunk of {len(samples)} samples is not a multiple of "
                f"{channels} channels"
            )
        # decode-time downmix: mean over channels (exact in float64 for the
        # integer layouts — |mean| bounded by full scale with one fractional
        # bit per doubling of channels), then the SAME float32 division as
        # the mono path so a clip with identical channels decodes
        # bit-for-bit equal to its mono twin
        pcm = (
            samples.reshape(-1, channels)
            .mean(axis=1, dtype=np.float64)
            .astype(np.float32)
            / np.float32(scale)
        )
    return pcm, int(sr_hz)


def _decode_fake(buf: bytes, codec: str) -> tuple[np.ndarray, int]:
    """DETERMINISTIC FAKE decode for codecs without an in-container decoder.

    The synthetic source frames every payload as WAV regardless of the codec
    label, so the fake path is simply the WAV parse. Swap for a real
    flac/opus/mp3 decoder in production; signature stays identical.
    """
    return decode_wav(buf)


KNOWN_CODECS = ("pcm_s16le", "flac", "mulaw", "alaw", "adpcm_ima", "opus", "mp3")

from .adpcm import decode_adpcm  # noqa: E402  (self-contained, no circular import)
from .flac import decode_flac  # noqa: E402  (no circular import: flac.py is self-contained)
from .g711 import decode_alaw, decode_mulaw  # noqa: E402  (self-contained)

# Real-decoder registry: codec → fn(bytes) -> (pcm float32, sr_hz). WAV PCM,
# the numpy FLAC subset, G.711 µ-law/A-law, and IMA ADPCM ship in-container;
# a production build registers opus/mp3 here (register_decoder) and the fake
# path below stops being reachable for them.
DECODERS: dict[str, object] = {
    "pcm_s16le": decode_wav,
    "flac": decode_flac,
    "mulaw": decode_mulaw,
    "alaw": decode_alaw,
    "adpcm_ima": decode_adpcm,
}

# container magic for the codecs we claim to know but cannot really decode —
# used to refuse honestly instead of mis-parsing real compressed payloads
_CONTAINER_MAGIC = ((b"fLaC", "flac"), (b"OggS", "opus"), (b"ID3", "mp3"))


def _is_mpeg_sync(head: bytes) -> bool:
    """True iff the payload opens with an MPEG audio frame sync (11 set
    bits + non-reserved layer) — covers MPEG1/2/2.5 of every layer, not
    just the 0xFF 0xFB MPEG1-L3 byte pair."""
    return (
        len(head) >= 2
        and head[0] == 0xFF
        and (head[1] & 0xE0) == 0xE0
        and (head[1] >> 1) & 0x3 != 0  # layer bits 00 are reserved
    )


def register_decoder(codec: str, fn) -> None:
    """Register a real decoder fn(bytes) -> (pcm float32, sr_hz)."""
    DECODERS[codec] = fn


def decode_clip_ex(buf: bytes, codec: str | None) -> tuple[np.ndarray, int, bool]:
    """Dispatch decode by codec label → (pcm, sr_hz, fake).

    ``fake=True`` marks a payload whose codec label has no registered real
    decoder but whose bytes are RIFF/WAVE-framed (the deterministic
    synthetic source's shape) — the WAV parse stands in for the codec, and
    the caller MUST surface the substitution (drift check counts these as
    ``fake_decodes``; strict mode turns them into violations). A payload
    that actually carries flac/ogg/mp3 magic raises NotImplementedError —
    never a silent wrong parse. ValueError on unknown codec/bad payload.
    """
    if codec is None:
        return (*decode_wav(buf), False)
    dec = DECODERS.get(codec)
    if dec is not None:
        return (*dec(buf), False)
    if codec in KNOWN_CODECS:
        head = bytes(buf[:4]) if buf is not None and len(buf) >= 4 else b""
        for magic, _name in _CONTAINER_MAGIC:
            if head.startswith(magic):
                raise NotImplementedError(
                    f"payload is real {codec!r} (container magic {magic!r}) and no "
                    "decoder is registered in this build; register one via "
                    "register_decoder()"
                )
        if _is_mpeg_sync(head):
            raise NotImplementedError(
                f"payload is real {codec!r} (MPEG audio frame sync) and no "
                "decoder is registered in this build; register one via "
                "register_decoder()"
            )
        return (*_decode_fake(buf, codec), True)
    raise ValueError(f"unknown codec {codec!r}")


def decode_clip(buf: bytes, codec: str | None) -> tuple[np.ndarray, int]:
    """Back-compat decode: (pcm, sr_hz); see decode_clip_ex for the fake flag."""
    pcm, sr, _fake = decode_clip_ex(buf, codec)
    return pcm, sr


def decode_batch(payloads, codecs: list):
    """The one decoder of every payload pass: yields, in row order, each
    row's ``decode_clip_ex`` result ``(pcm, sr, fake)`` or the exception
    its decode raised — one bad payload never fails the batch.

    ``payloads`` is a pyarrow binary array (rows handed over as zero-copy
    memoryviews, NULL as None), ``codecs`` the aligned labels. adpcm_ima
    rows are decoded together up front: per-clip vectorization is
    overhead-dominated there (~500 tiny numpy steps per clip), so every
    clip's state-independent blocks share one matrix
    (functions/adpcm.py::decode_adpcm_batch). Every other row is decoded
    only when the consumer reaches it, so a kernel that works clip by clip
    holds one PCM at a time.
    """
    def buf(i):
        v = payloads[i]
        return memoryview(v.as_buffer()) if v.is_valid else None

    pre = {}
    idxs = [i for i, c in enumerate(codecs) if c == "adpcm_ima"]
    if idxs:
        from .adpcm import decode_adpcm_batch

        pre = dict(zip(idxs, decode_adpcm_batch([buf(i) for i in idxs])))
    for i, codec in enumerate(codecs):
        if i in pre:
            r = pre.pop(i)
            r = r if isinstance(r, Exception) else (*r, False)
        else:
            try:
                r = decode_clip_ex(buf(i), codec)
            except Exception as e:  # per-row failure, surfaced to the consumer
                r = e
        yield r


# ------------------------------------------------------- spectral feature path


def _hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def _mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(sr_hz: int, n_fft: int, n_mels: int = 20) -> np.ndarray:
    """Triangular mel filterbank (n_mels × n_fft//2+1), slaney-style, numpy only."""
    n_bins = n_fft // 2 + 1
    fmax = sr_hz / 2.0
    mels = np.linspace(_hz_to_mel(0.0), _hz_to_mel(fmax), n_mels + 2)
    hz = _mel_to_hz(mels)
    bins = np.floor((n_fft + 1) * hz / sr_hz).astype(int)
    fb = np.zeros((n_mels, n_bins))
    for m in range(1, n_mels + 1):
        lo, mid, hi = int(bins[m - 1]), int(bins[m]), int(bins[m + 1])
        # enforce strictly increasing edges: floor() collapses adjacent mel
        # points at low n_fft / high sr, and the old pairwise nudge could
        # leave hi < mid (hypothesis-found: sr=44100, n_fft=256, n_mels=31
        # produced an all-zero mel band). Identical output when edges are
        # already distinct and in range.
        mid = max(mid, lo + 1)
        hi = max(hi, mid + 1)
        if hi > n_bins:  # collision nudges ran past the spectrum top
            hi = n_bins
            mid = min(mid, hi - 1)
            lo = min(lo, mid - 1)
        fb[m - 1, lo:mid] = (np.arange(lo, mid) - lo) / (mid - lo)
        fb[m - 1, mid:hi] = (hi - np.arange(mid, hi)) / (hi - mid)
    return fb


_FB_CACHE: dict[tuple[int, int, int], np.ndarray] = {}
_WIN_CACHE: dict[int, np.ndarray] = {}


def _cached_fb(sr_hz: int, n_fft: int, n_mels: int) -> np.ndarray:
    key = (sr_hz, n_fft, n_mels)
    if key not in _FB_CACHE:
        _FB_CACHE[key] = mel_filterbank(sr_hz, n_fft, n_mels).T.astype(np.float32)
    return _FB_CACHE[key]


def _cached_win(frame: int) -> np.ndarray:
    if frame not in _WIN_CACHE:
        _WIN_CACHE[frame] = np.hanning(frame).astype(np.float32)
    return _WIN_CACHE[frame]


def _power_frames(pcm: np.ndarray, sr_hz: int, frame_ms: float, hop_ms: float):
    """frames × (n_fft/2+1) power spectrum.

    The rfft runs in 48-frame chunks: numpy's FFT always computes in
    complex128, so a whole-clip call materializes an n_frames × n_fft
    complex matrix (megabytes per clip) whose write-out is pure memory
    traffic — measured 1.8× slower than chunks that keep the spectrum and
    the power write cache-resident, and worse still when 32 workers
    contend for DRAM bandwidth. Per-row results are bit-identical (FFT
    rows are independent; the power is computed elementwise per row)."""
    frame = max(int(sr_hz * frame_ms / 1000.0), 2)
    hop = max(int(sr_hz * hop_ms / 1000.0), 1)
    pcm = np.asarray(pcm, dtype=np.float32)
    if len(pcm) < frame:
        pcm = np.pad(pcm, (0, frame - len(pcm)))
    n_frames = 1 + (len(pcm) - frame) // hop
    frames = np.lib.stride_tricks.sliding_window_view(pcm, frame)[::hop][:n_frames]
    win = _cached_win(frame)
    n_fft = 1 << (frame - 1).bit_length()
    chunk = 48
    out = np.empty((n_frames, n_fft // 2 + 1), dtype=np.float64)
    for s in range(0, n_frames, chunk):
        e = min(s + chunk, n_frames)
        spec = np.fft.rfft(frames[s:e] * win[None, :], n=n_fft, axis=1)
        out[s:e] = spec.real**2
        out[s:e] += spec.imag**2
    return out, n_fft


def log_mel_frames(
    pcm: np.ndarray,
    sr_hz: int,
    n_mels: int = 20,
    frame_ms: float = 25.0,
    hop_ms: float = 10.0,
) -> np.ndarray:
    """frames × n_mels log-mel energies. Pure numpy (no scipy in container)."""
    power, n_fft = _power_frames(pcm, sr_hz, frame_ms, hop_ms)
    mel = power @ _cached_fb(sr_hz, n_fft, n_mels)
    return np.log(mel + 1e-10)


_DCT_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _dct_matrix(n_in: int, n_out: int) -> np.ndarray:
    key = (n_in, n_out)
    if key not in _DCT_CACHE:
        k = np.arange(n_out)[:, None]
        n = np.arange(n_in)[None, :]
        m = np.sqrt(2.0 / n_in) * np.cos(np.pi * k * (2 * n + 1) / (2.0 * n_in))
        m[0] /= np.sqrt(2.0)
        _DCT_CACHE[key] = m
    return _DCT_CACHE[key]


def mfcc(pcm: np.ndarray, sr_hz: int, n_mfcc: int = 13, n_mels: int = 20) -> np.ndarray:
    """frames × n_mfcc MFCCs (DCT-II of log-mel)."""
    lm = log_mel_frames(pcm, sr_hz, n_mels=n_mels)
    return lm @ _dct_matrix(n_mels, n_mfcc).T


def clip_features(pcm: np.ndarray, sr_hz: int, n_mfcc: int = 13,
                  n_mels: int = 20) -> np.ndarray:
    """Per-clip feature vector: mean MFCC over frames + rms + spectral centroid.

    Replaces the reference's 384-d sentence embedding (pipeline.py:65-68) as
    the drift-scored representation. Length = n_mfcc + 2. Single framed-FFT
    pass: log-mel/MFCC and the centroid share one power spectrum. Hop is
    20 ms (not the classic 10) — per-clip *mean* features feed fixed-bin
    histograms, where 2× fewer frames is statistically indistinguishable
    and halves the dominant FFT cost.
    """
    return clip_features_ex(pcm, sr_hz, n_mfcc=n_mfcc, n_mels=n_mels)[0]


def clip_features_ex(
    pcm: np.ndarray,
    sr_hz: int,
    n_mfcc: int = 13,
    n_mels: int = 20,
    hf_frac: float = 0.55,
) -> tuple[np.ndarray, float]:
    """`clip_features` plus the high-band energy ratio in dB — the fraction
    of mean spectral power at or above ``hf_frac`` × Nyquist, from the SAME
    power spectrum (zero extra FFT work).

    The ratio is the effective-bandwidth signal behind R066_bandwidth:
    genuinely full-band audio keeps a broadband noise floor all the way to
    Nyquist (≳ −25 dB here), while audio that was upsampled from a lower
    rate (or aggressively lowpassed) has nothing above the original Nyquist
    but the codec's own quantization noise (≤ −40 dB for PCM/FLAC/G.711).
    An all-zero clip reads ≈ ``10*log10(hf_frac)`` (the +1e-12 bin floor is
    uniform), safely above any sane flagging threshold.
    """
    power, n_fft = _power_frames(pcm, sr_hz, 25.0, 20.0)
    mel = power @ _cached_fb(sr_hz, n_fft, n_mels)
    lm = np.log(mel + 1e-10)
    m = (lm.mean(axis=0) @ _dct_matrix(n_mels, n_mfcc).T)
    rms = float(np.sqrt(np.mean(np.asarray(pcm, dtype=np.float64) ** 2) + 1e-12))
    mean_spec = power.mean(axis=0) + 1e-12
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / sr_hz)
    tot = float(mean_spec.sum())
    centroid = float((mean_spec * freqs).sum() / tot)
    hf = float(mean_spec[freqs >= hf_frac * (sr_hz / 2.0)].sum())
    hf_db = float(10.0 * np.log10(hf / tot + 1e-15))
    return np.concatenate([m, [rms, centroid]]).astype(np.float64), hf_db


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio of `test` against reference PCM, in dB.

    Per-row invariant vs the reference decode path (input_hint): decoded PCM
    must match at SNR ≥ 30 dB.
    """
    n = min(len(ref), len(test))
    if n == 0:
        return float("-inf")
    ref, test = ref[:n].astype(np.float64), test[:n].astype(np.float64)
    noise = np.mean((ref - test) ** 2)
    if noise == 0:
        return float("inf")
    return float(10.0 * np.log10(np.mean(ref**2) / noise))


def frame_f0(
    pcm: np.ndarray,
    sr_hz: int,
    fmin: float = 50.0,
    fmax: float = 500.0,
    frame_ms: float = 40.0,
    hop_ms: float = 20.0,
    voicing_threshold: float = 0.5,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-frame fundamental frequency by FFT autocorrelation.

    Returns (f0_hz, voiced) arrays, one entry per frame: f0 is the lag of
    the autocorrelation peak inside [sr/fmax, sr/fmin] samples, voiced
    where that peak's normalized height clears ``voicing_threshold`` AND
    the frame has non-trivial energy. Unvoiced frames carry f0=0. Pure
    numpy (autocorrelation = irfft of the power spectrum — one rfft pair
    per frame chunk, same chunked-memory discipline as _power_frames)."""
    frame = max(int(sr_hz * frame_ms / 1000.0), 4)
    hop = max(int(sr_hz * hop_ms / 1000.0), 1)
    pcm = np.asarray(pcm, dtype=np.float32)
    if len(pcm) < frame:
        pcm = np.pad(pcm, (0, frame - len(pcm)))
    n_frames = 1 + (len(pcm) - frame) // hop
    frames = np.lib.stride_tricks.sliding_window_view(pcm, frame)[::hop][:n_frames]
    lag_lo = max(int(sr_hz / fmax), 1)
    lag_hi = min(int(np.ceil(sr_hz / fmin)), frame - 1)
    f0 = np.zeros(n_frames, dtype=np.float64)
    voiced = np.zeros(n_frames, dtype=bool)
    if lag_hi <= lag_lo:
        return f0, voiced
    n_fft = 1 << (2 * frame - 1).bit_length()  # linear (not circular) autocorr
    # The linear (zero-padded) autocorrelation tapers as (frame - lag):
    # uncompensated, the decaying zero-lag shoulder out-scores true peaks
    # whose period approaches the frame length, so every tone in the
    # 50-65 Hz part of the band used to collapse to f0 = sr/lag_lo.
    # Dividing by (frame - lag) restores the unbiased estimate; period
    # multiples then tie at the same height, so the peak pick takes the
    # SMALLEST lag within a tight tolerance of the max (octave-safe).
    all_lags = np.arange(0, min(lag_hi + 2, frame), dtype=np.float64)
    comp_full = frame / np.maximum(frame - all_lags, 1.0)
    comp = comp_full[lag_lo : lag_hi + 1]
    chunk = 48
    for s in range(0, n_frames, chunk):
        e = min(s + chunk, n_frames)
        x = frames[s:e] - frames[s:e].mean(axis=1, keepdims=True)
        spec = np.fft.rfft(x, n=n_fft, axis=1)
        ac = np.fft.irfft(spec.real**2 + spec.imag**2, n=n_fft, axis=1)
        r0 = ac[:, 0]
        window = ac[:, lag_lo : lag_hi + 1] * comp
        mx = window.max(axis=1)
        # first lag within 3% of the max (ties at period multiples break
        # toward the fundamental; 3% covers the worst-case half-sample
        # quantization drop of ~1.9% at the shortest legal period, while
        # every non-multiple lag of a periodic signal sits far lower),
        # then hill-climb to the local max of that lobe — the candidate
        # lands on the rising shoulder, and ascent cannot cross the
        # valley into the next period multiple. Plain argmax when the
        # max is non-positive.
        tie_idx = np.argmax(window >= ((1.0 - 0.03) * mx)[:, None], axis=1)
        peak_idx = np.where(mx > 0, tie_idx, np.argmax(window, axis=1))
        rows = np.arange(e - s)
        width = window.shape[1]
        for _ in range(32):
            nxt = np.minimum(peak_idx + 1, width - 1)
            better = window[rows, nxt] > window[rows, peak_idx]
            if not better.any():
                break
            peak_idx = np.where(better, nxt, peak_idx)
        peak = window[rows, peak_idx]
        energy_ok = r0 > (1e-6 * frame)
        with np.errstate(divide="ignore", invalid="ignore"):
            nv = np.where(r0 > 0, peak / r0, 0.0)
        v = energy_ok & (nv >= voicing_threshold)
        # Parabolic interpolation around the peak: integer lags quantize
        # f0 = sr/lag coarsely at high f0 (~7 Hz steps at 330 Hz / 16 kHz).
        # Neighbors use the same taper compensation as the peak itself.
        li = lag_lo + peak_idx
        interior = (li > lag_lo) & (li < lag_hi)
        ym = ac[rows, np.maximum(li - 1, 0)] * comp_full[np.maximum(li - 1, 0)]
        y0 = peak
        lp = np.minimum(li + 1, len(comp_full) - 1)
        yp = ac[rows, lp] * comp_full[lp]
        denom = ym - 2.0 * y0 + yp
        with np.errstate(divide="ignore", invalid="ignore"):
            delta = np.where(
                interior & (np.abs(denom) > 1e-12),
                0.5 * (ym - yp) / denom, 0.0)
        delta = np.clip(delta, -0.5, 0.5)
        f0[s:e] = np.where(v, sr_hz / (li.astype(np.float64) + delta), 0.0)
        voiced[s:e] = v
    return f0, voiced


def clip_f0_stats(
    pcm: np.ndarray,
    sr_hz: int,
    fmin: float = 50.0,
    fmax: float = 500.0,
    min_voiced_frames: int = 3,
) -> tuple[float | None, float | None, float]:
    """(median_f0_hz, f0_spread_hz, voiced_ratio) for one clip.

    median/spread are None when fewer than ``min_voiced_frames`` frames
    are voiced (noise, silence — no pitch to report). spread is the
    IQR of the voiced f0 track: speech wanders (wide IQR), a synthetic
    tone or hum is a flat line (IQR ≈ 0) — the discriminator the
    pitch-based corpus rules use."""
    f0, voiced = frame_f0(pcm, sr_hz, fmin=fmin, fmax=fmax)
    n = len(voiced)
    ratio = float(voiced.sum()) / n if n else 0.0
    if int(voiced.sum()) < min_voiced_frames:
        return None, None, round(ratio, 4)
    v = f0[voiced]
    q25, q50, q75 = np.percentile(v, [25.0, 50.0, 75.0])
    return round(float(q50), 2), round(float(q75 - q25), 2), round(ratio, 4)
