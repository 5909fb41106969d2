"""The seeded generators: same seed, same inputs; different seed, different."""

import hashlib
import io
import wave

import numpy as np
import pyarrow.parquet as pq

import corpus
import tables


def _digest(files):
    return hashlib.sha256(b"".join(corpus.wav_bytes(f) for f in files)).hexdigest()


def test_same_seed_same_bytes():
    a = corpus.synth_corpus(7, 3, 6.0)
    b = corpus.synth_corpus(7, 3, 6.0)
    assert _digest(a) == _digest(b)
    assert [f.turns for f in a] == [f.turns for f in b]


def test_other_seed_other_bytes():
    assert _digest(corpus.synth_corpus(7, 2, 6.0)) != _digest(corpus.synth_corpus(8, 2, 6.0))


def test_file_depends_only_on_seed_and_name():
    grown = corpus.synth_corpus(3, 4, 5.0)
    assert _digest(grown[:3]) == _digest(corpus.synth_corpus(3, 3, 5.0))
    assert _digest(grown[3:]) == _digest(corpus.synth_corpus(3, 1, 5.0, first=3))


def test_turns_inside_file_and_noise_below_vad_threshold():
    for f in corpus.synth_corpus(11, 4, 12.0):
        assert f.turns
        x = np.abs(f.pcm / 32768.0)
        speech = np.zeros(len(x), bool)
        for s, e, spk in f.turns:
            assert 0 < s < e < f.seconds
            assert spk in {"s0", "s1", "s2"}
            speech[int(s * corpus.SR) : int(e * corpus.SR)] = True
        assert x[~speech].max() < 0.01  # the VAD stub threshold
        assert np.median(x[speech]) > 0.05


def test_wav_bytes_round_trip():
    f = corpus.synth_file(5, "ep_0000", 2.0)
    with wave.open(io.BytesIO(corpus.wav_bytes(f))) as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, corpus.SR)
        pcm = np.frombuffer(w.readframes(w.getnframes()), "<i2")
    assert np.array_equal(pcm, f.pcm)


def test_catalog_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    assert tables.write_catalog(str(a), 1, 500) == tables.write_catalog(str(b), 1, 500)
    tables.write_catalog(str(c), 2, 500)
    for name in ("events", "documents", "embeddings"):
        ta = pq.read_table(a / f"{name}.parquet")
        assert ta.equals(pq.read_table(b / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(c / f"{name}.parquet"))
