"""Synthetic audio+transcript table (the audio leg of the multimodal
binary-column model; images.py / videos discipline applied to sound).

Schema: audio(audio_id string, bytes binary, n_samples int,
sample_rate int, n_channels int, fmt string, transcript string,
ahash long).  Everything is a deterministic function of the row index
(seed-stable at any scale factor), so invariants check without stored
ground truth: the waveform regenerates from ``ahash``.

Half the rows carry PCM16 WAV bytes (lossless — exact-equality
invariant, the PNG analog) and half carry G.711 mu-law WAV bytes
(genuinely lossy companding — the JPEG analog; the invariant is exact
equality against the deterministic encode-decode image of the
regenerated waveform, PLUS an SNR >= 30 dB bound against the original).
Both codecs are real (sources/audio_codec.py, interop-tested against
javax.sound.sampled).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators import local
from ..operators.geotag import splitmix64
from .audio_codec import (AUDIO_CODEC_VERSION, WAVE_FORMAT_MULAW,
                          WAVE_FORMAT_PCM, decode_wav, encode_wav,
                          mulaw_decode, mulaw_encode)
from .images import caption_of, generate_df, spread_python_scan

SAMPLE_RATE = 8000
_LEN_CHOICES = np.array([2048, 4096, 8192], dtype=np.int64)

# Generator-law version: any change to samples_from_ahash invalidates
# cached corpora exactly like a codec change would.
AUDIO_GEN_VERSION = 2

# Cache-path tag for every corpus built from this generator (codec or
# generator changes invalidate cached bytes automatically — ADVICE r4 #3).
AUDIO_CORPUS_TAG = \
    f"sr{SAMPLE_RATE}_g{AUDIO_GEN_VERSION}_v{AUDIO_CODEC_VERSION}"

AUDIO_SCHEMA = ("audio_id string, bytes binary, n_samples int, "
                "sample_rate int, n_channels int, fmt string, "
                "transcript string, ahash long")


_N_HARMONICS = 10
_N_SEGMENTS = 8       # per-harmonic amplitude-envelope resolution


def samples_from_ahash(ahash: int, n: int,
                       sr: int = SAMPLE_RATE) -> np.ndarray:
    """Deterministic mono waveform: ten sine harmonics, each with its
    own per-segment amplitude envelope (eight gain steps in [0.25, 1]),
    all derived from a splitmix64 stream over ``ahash`` -> (n,) int16.

    The time-varying envelopes are load-bearing, not decoration: a
    corpus of STATIONARY tones is audio's low-entropy degenerate case
    (the MinHash word-salad analog) — every spectrogram time slice is
    identical, so any time-frequency fingerprint collapses to a band-
    occupancy pattern and unrelated clips collide in droves (measured:
    ~6.5k of 500k pairs within 3 bits before the envelopes; 0 within
    6 bits after).  Total amplitude stays <= ~0.55 FS so the sum never
    clips; frequencies stay below Nyquist.  All parameter draws reduce
    the uint64 stream in INTEGER domain — a float64 cast first would
    round 2^64-scale values to multiples of >= 2048 and silently
    constant-fold every modulo (measured: it flattens all gains to
    their minimum).
    """
    k, g = _N_HARMONICS, _N_SEGMENTS
    s = splitmix64(np.arange(3 * k + g * k, dtype=np.int64)
                   + np.int64(ahash & 0x7FFFFFFFFFFFFFFF))
    t = np.arange(n, dtype=np.float64) / sr
    seg_of = np.minimum(np.arange(n) * g // max(n, 1), g - 1)
    out = np.zeros(n, dtype=np.float64)
    for i in range(k):
        freq = 100.0 + float(s[i] % np.uint64(3400))       # < 3.5 kHz
        amp = (0.03 + 0.02 * float(s[k + i] % np.uint64(5))) \
            * 32767.0                                      # <= .11 FS
        phase = float(s[2 * k + i] % np.uint64(628)) / 100.0
        gseed = s[3 * k + g * i:3 * k + g * (i + 1)]
        gains = 0.25 + 0.75 * (gseed % np.uint64(256)) \
            .astype(np.float64) / 255.0
        out += amp * gains[seg_of] * np.sin(2.0 * np.pi * freq * t + phase)
    return np.round(out).astype(np.int16)


def generate_audio_batch(start: int, end: int) -> pd.DataFrame:
    """Rows [start, end): fully deterministic in the row index.  Even
    rows are PCM16 (lossless), odd rows mu-law (lossy)."""
    idx = np.arange(start, end, dtype=np.int64)
    ahash = splitmix64(idx).view(np.int64)
    n_samples = _LEN_CHOICES[np.abs(ahash) % 3]
    rows = []
    for i, ah, ns in zip(idx, ahash, n_samples):
        pcm = samples_from_ahash(int(ah), int(ns))
        if i % 2 == 0:
            fmt, data = "wav-pcm16", encode_wav(pcm, SAMPLE_RATE)
        else:
            fmt, data = "wav-ulaw", encode_wav(pcm, SAMPLE_RATE,
                                               WAVE_FORMAT_MULAW)
        rows.append((f"aud-{int(i):010d}", data, int(ns), SAMPLE_RATE, 1,
                     fmt, caption_of(int(ah)), int(ah)))
    return pd.DataFrame(rows, columns=["audio_id", "bytes", "n_samples",
                                       "sample_rate", "n_channels", "fmt",
                                       "transcript", "ahash"])


def generate_audio_df(spark: SparkSession, n: int,
                      rows_per_task: int = 2_000) -> DataFrame:
    return generate_df(spark, n, rows_per_task, generate_audio_batch,
                       AUDIO_SCHEMA)


def make_mulaw_dups(pdf: pd.DataFrame, k: int,
                    step: int | None = None) -> pd.DataFrame:
    """Planted near-duplicate rows for ``k`` of ``pdf``'s PCM16 clips:
    the SAME regenerated waveform re-companded through G.711 mu-law,
    id 'dup-<original id>' — a known lossy-re-encode ground truth.
    One maintained construction site instead of positional-tuple
    copies in every gate/test (r5 review): column order follows
    ``pdf.columns`` directly."""
    pcm = pdf[pdf.fmt == "wav-pcm16"].reset_index(drop=True)
    if step is None:
        step = max(1, len(pcm) // k)
    origs = pcm.iloc[::step][:k]
    if len(origs) != k:
        raise ValueError(f"only {len(origs)} PCM16 rows for {k} dups")
    rows = []
    for r in origs.itertuples(index=False):
        wave = samples_from_ahash(int(r.ahash), int(r.n_samples),
                                  int(r.sample_rate))
        d = r._asdict()
        d["audio_id"] = f"dup-{r.audio_id}"
        d["bytes"] = encode_wav(wave, int(r.sample_rate),
                                WAVE_FORMAT_MULAW)
        d["fmt"] = "wav-ulaw"
        rows.append([d[c] for c in pdf.columns])
    return pd.DataFrame(rows, columns=list(pdf.columns))


def check_audio_invariants(df: DataFrame) -> DataFrame:
    """Per-row decoded-sample + transcript invariant.

    Every row decodes with the real codec and compares against the
    regenerated reference waveform.  PCM16 is lossless => exact match.
    Mu-law is lossy but DETERMINISTIC => the decoded samples must equal
    the encode-decode image of the regenerated waveform exactly, and
    that image must clear SNR >= 30 dB against the original (mu-law's
    G.711 design point is ~38 dB on in-range tones).  Returns
    (audio_id, fmt, samples_ok, snr_db, transcript_ok).
    """
    def check(batches):
        for rb in batches:
            oks, snrs, transcript_oks = [], [], []
            for r in rb.to_pylist():
                ref = samples_from_ahash(int(r["ahash"]), int(r["n_samples"]),
                                         int(r["sample_rate"]))
                got, rate = decode_wav(bytes(r["bytes"]))
                ok = (rate == int(r["sample_rate"])
                      and got.shape == (int(r["n_samples"]), 1))
                if ok and r["fmt"] == "wav-pcm16":
                    expect = ref
                elif ok and r["fmt"] == "wav-ulaw":
                    expect = mulaw_decode(mulaw_encode(ref))
                else:
                    ok = False
                if ok:
                    ok = bool(np.array_equal(got[:, 0], expect))
                err = (got[:, 0].astype(np.float64) - ref) if ok else None
                power = float((ref.astype(np.float64) ** 2).mean())
                if not ok or power == 0:
                    snr = 0.0
                else:
                    mse = float((err ** 2).mean())
                    snr = float("inf") if mse == 0 else \
                        10.0 * np.log10(power / mse)
                    ok = snr >= 30.0
                oks.append(bool(ok))
                snrs.append(snr)
                transcript_oks.append(
                    caption_of(int(r["ahash"])) == r["transcript"])
            yield {"audio_id": rb.column("audio_id"),
                   "fmt": rb.column("fmt"), "samples_ok": oks,
                   "snr_db": snrs, "transcript_ok": transcript_oks}

    return local.map_arrow(
        spread_python_scan(df), check, "audio_id string, fmt string, "
        "samples_ok boolean, snr_db double, transcript_ok boolean")
