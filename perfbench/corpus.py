"""Seeded, deterministic podcast-like audio corpus for the benchmark.

Every file is 16 kHz mono PCM16: 2-3 speakers take turns, separated by
pauses, over a noise floor that stays below the VAD stub's amplitude
threshold. The same ``(seed, n_files, seconds)`` always yields the same
bytes; the per-file structure (turn and pause lengths) is drawn so that
total speech per file varies only a little between seeds, which keeps
the work per run nearly constant.

The written files are the only input the program sees. The ground-truth
turns are returned to the caller for correctness checks and never
handed to the program.
"""

from __future__ import annotations

import io
import os
import wave
from dataclasses import dataclass, field

import numpy as np

SR = 16_000
#: peak noise-floor amplitude; the VAD stub fires on |x| > 0.01
NOISE_PEAK = 0.004
#: speaker "voices": fundamental (Hz) and amplitude; the amplitudes are
#: far enough apart for the embedding stub to tell two of them apart
VOICES = ((115.0, 0.8), (185.0, 0.3), (240.0, 0.5))


@dataclass
class AudioFile:
    audio_id: str
    pcm: np.ndarray  # int16
    turns: list = field(default_factory=list)  # (start_s, end_s, speaker)

    @property
    def seconds(self) -> float:
        return len(self.pcm) / SR


def _file_rng(seed: int, name: str) -> np.random.Generator:
    # per-file stream: a file's content depends only on (seed, name),
    # so a corpus grown by one file keeps the other files byte-identical
    return np.random.default_rng([seed, *name.encode()])


def synth_file(seed: int, audio_id: str, seconds: float) -> AudioFile:
    """One file: alternating speaker turns with pauses, then noise floor."""
    rng = _file_rng(seed, audio_id)
    n = int(seconds * SR)
    x = rng.uniform(-NOISE_PEAK, NOISE_PEAK, n)
    n_speakers = 2 + int(rng.integers(0, 2))
    t = float(rng.uniform(0.3, 1.0))
    turns = []
    spk = 0
    while True:
        dur = float(rng.uniform(1.5, 4.5))
        if t + dur > seconds - 0.3:
            break
        turns.append((round(t, 4), round(t + dur, 4), spk))
        t += dur + float(rng.uniform(0.4, 1.6))
        spk = (spk + 1 + int(rng.integers(0, n_speakers - 1))) % n_speakers
    ramp = int(0.005 * SR)
    for s, e, k in turns:
        f0, amp = VOICES[k]
        i0, i1 = int(s * SR), int(e * SR)
        tt = np.arange(i1 - i0) / SR
        # a voiced tone with two harmonics and a slow syllable-rate
        # envelope that never drops below half amplitude
        env = amp * (0.75 + 0.25 * np.sin(2 * np.pi * 3.0 * tt + rng.uniform(0, 6.28)))
        tone = (
            np.sin(2 * np.pi * f0 * tt)
            + 0.4 * np.sin(2 * np.pi * 2 * f0 * tt)
            + 0.2 * np.sin(2 * np.pi * 3 * f0 * tt)
        ) / 1.6
        seg = env * tone
        seg[:ramp] *= np.linspace(0.2, 1.0, ramp)
        seg[-ramp:] *= np.linspace(1.0, 0.2, ramp)
        x[i0:i1] = seg
    pcm = np.clip(np.rint(x * 32767.0), -32768, 32767).astype(np.int16)
    return AudioFile(audio_id, pcm, [(s, e, f"s{k}") for s, e, k in turns])


def synth_corpus(
    seed: int, n_files: int, seconds: float, prefix: str = "ep", first: int = 0
) -> list[AudioFile]:
    return [
        synth_file(seed, f"{prefix}_{i:04d}", seconds)
        for i in range(first, first + n_files)
    ]


def wav_bytes(f: AudioFile) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(SR)
        w.writeframes(f.pcm.astype("<i2").tobytes())
    return buf.getvalue()


def write_files(directory: str, payloads: dict[str, bytes]) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, blob in payloads.items():
        with open(os.path.join(directory, name), "wb") as fh:
            fh.write(blob)


def host_voiceprints(seconds: float = 2.0) -> list[tuple[str, list, int]]:
    """Small reference-voiceprint table: one clean clip per voice."""
    rows = []
    tt = np.arange(int(seconds * SR)) / SR
    for k, (f0, amp) in enumerate(VOICES):
        tone = (
            np.sin(2 * np.pi * f0 * tt)
            + 0.4 * np.sin(2 * np.pi * 2 * f0 * tt)
            + 0.2 * np.sin(2 * np.pi * 3 * f0 * tt)
        ) / 1.6
        rows.append((f"host_{k}", (amp * tone).tolist(), SR))
    return rows
