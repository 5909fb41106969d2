"""Audio workloads: ``speech_cold``, ``speech_delta`` and ``ingest_flac``.

Each workload generates its corpus from the seed, writes it as files and
hands the program only the directory. The program's ``audio`` input is
built the way a user would build it from public functions: the
``binaryFile`` scan (``sources.audio.scan_audio_dir``) keyed to a
``media_id`` and decoded by ``operators.multimodal.decode_media``.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
import probes
from benchenv import BenchEnv, Result, canonical_digest, measure
from metrics import STAGES

#: corpus shapes; every run of a workload uses the same shape
COLD = dict(n_wav=4, wav_s=12.0, n_flac=1, flac_s=3.0)
DELTA = dict(n_base=8, n_new=1, wav_s=10.0)
FLAC = dict(n_flac=8, flac_s=10.0)


# ------------------------------------------------------------------ inputs


@dataclass
class Corpus:
    directory: str
    files: list  # corpus.AudioFile
    flac_ids: frozenset

    @property
    def seconds(self) -> float:
        return sum(f.seconds for f in self.files)


def _encode(f: corpus.AudioFile) -> tuple[str, bytes]:
    from speech_data_pipeline_spark.operators.flac import encode_flac_bytes

    return f"{f.audio_id}.flac", encode_flac_bytes([f.pcm.tolist()], corpus.SR)


def write_corpus(directory: str, files: list, flac_ids=(), procs: int = 1) -> Corpus:
    """Write ``files`` as WAV, or as FLAC (the program's own encoder) for
    ids in ``flac_ids``; FLAC encoding fans out over ``procs`` processes."""
    shutil.rmtree(directory, ignore_errors=True)
    flac = [f for f in files if f.audio_id in flac_ids]
    payloads = {
        f"{f.audio_id}.wav": corpus.wav_bytes(f) for f in files if f.audio_id not in flac_ids
    }
    if procs > 1 and len(flac) > 1:
        with multiprocessing.get_context("fork").Pool(procs) as pool:
            payloads.update(pool.map(_encode, flac))
            pool.close()
            pool.join()
    else:
        payloads.update(map(_encode, flac))
    corpus.write_files(directory, payloads)
    return Corpus(directory, list(files), frozenset(flac_ids))


def _count_rows(acc):
    def passthrough(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return passthrough


def audio_frame(spark, directory: str, counter=None) -> DataFrame:
    """``(audio_id, samples, sr)`` for every audio file in ``directory``.

    With ``counter`` (an accumulator), a passthrough ahead of
    ``decode_media`` counts the files handed to decode.
    """
    from speech_data_pipeline_spark.operators.multimodal import decode_media
    from speech_data_pipeline_spark.sources.audio import scan_audio_dir

    scan = scan_audio_dir(spark, directory)
    keyed = scan.select(
        "audio_id",
        F.xxhash64("audio_id").alias("media_id"),
        F.col("content").alias("payload"),
    )
    payload = keyed.select("media_id", "payload")
    if counter is not None:
        payload = payload.mapInPandas(_count_rows(counter), schema=payload.schema)
    return (
        decode_media(payload)
        .join(keyed.select("audio_id", "media_id"), "media_id")
        .select("audio_id", "samples", "sr")
    )


def hosts_frame(spark) -> DataFrame:
    return spark.createDataFrame(
        corpus.host_voiceprints(), "host_id string, samples array<double>, sr int"
    )


# ------------------------------------------------------------- operations


def run_all(env: BenchEnv, directory: str, workdir: str, hosts):
    from speech_data_pipeline_spark.plans.pipeline import run_pipeline

    return run_pipeline(env.spark, audio_frame(env.spark, directory), workdir, hosts=hosts)


# ------------------------------------------------------------------ checks


def stage_tables(env: BenchEnv, workdir: str, stages=STAGES) -> dict[str, list]:
    """{stage: collected rows}; a stage that wrote nothing has no rows."""
    out = {}
    for s in stages:
        p = os.path.join(workdir, s)
        out[s] = env.spark.read.parquet(p).collect() if os.path.exists(p) else []
    return out


def digests(tables: dict[str, list]) -> dict[str, str]:
    """{stage: "<rows>:<order-insensitive content hash>"}."""
    return {
        s: f"{len(rows)}:{canonical_digest([tuple(x) for x in rows])}"
        for s, rows in tables.items()
    }


def check_vad_covers_turns(vad: list, c: Corpus, r: Result) -> None:
    """Every ground-truth turn the generator placed lies inside one VAD
    segment (10 ms tolerance)."""
    by_file: dict[str, list] = {}
    for x in vad:
        by_file.setdefault(x.audio_id, []).append((x.start, x.end))
    for f in c.files:
        segs = by_file.get(f.audio_id, [])
        missed = [
            (s, e) for s, e, _ in f.turns
            if not any(a <= s + 0.01 and b >= e - 0.01 for a, b in segs)
        ]
        r.check(not missed, f"vad misses turns {missed} of {f.audio_id}")


def check_stage_invariants(tables: dict[str, list], c: Corpus, r: Result) -> None:
    """Invariants of tests/test_pipeline.py plus ground-truth VAD coverage."""
    rows = tables.get
    vad = rows("vad")
    by_file: dict[str, list] = {}
    for x in vad:
        by_file.setdefault(x.audio_id, []).append((x.start, x.end))
    r.check(bool(vad), "vad table is empty")
    r.check(all(x.end > x.start >= 0 for x in vad), "vad segment with end <= start or start < 0")
    for segs in by_file.values():
        segs.sort()
        r.check(
            all(s2 > e1 for (_, e1), (s2, _) in zip(segs, segs[1:])),
            "vad segments overlap or touch",
        )
    check_vad_covers_turns(vad, c, r)
    sep = rows("separation")
    r.check(
        all(
            0.0 <= x.v_r <= 1.0 and abs(x.v_r + x.nv_r - 1.0) < 1e-9
            for x in sep
            if x.kind == "window"
        ),
        "separation ratio outside [0, 1] or v_r + nv_r != 1",
    )
    diar = [x for x in rows("diarization") if not x.overlapping]
    r.check(bool(diar), "no single-speaker diarization pieces")
    r.check(all(x.speaker.startswith("speaker_") for x in diar), "bad diarization tag")
    pieces: dict[str, list] = {}
    for x in diar:
        pieces.setdefault(x.audio_id, []).append((x.start, x.end))
    for segs in pieces.values():
        segs.sort()
        r.check(
            all(s2 >= e1 - 1e-9 for (_, e1), (s2, _) in zip(segs, segs[1:])),
            "single-speaker pieces overlap",
        )
    rem = rows("rematch")
    r.check(bool(rem), "rematch table is empty")
    r.check(all(3.0 < x.end - x.start <= 20.0 + 1e-9 for x in rem), "rematch span outside (3, 20]")
    hm = rows("host_match")
    r.check(all(x.score > 0.5 for x in hm), "host match accepted with score <= 0.5")
    for stage in STAGES:
        r.check(all(x.status == "ok" for x in rows(stage)), f"{stage} has failed rows")


def check_flac_exact(env: BenchEnv, c: Corpus, r: Result) -> None:
    """``decode_media`` returns exactly the PCM that was encoded."""
    from speech_data_pipeline_spark.sources.audio import scan_audio_dir

    if not c.flac_ids:
        return
    got = {
        x.audio_id: x
        for x in audio_frame(env.spark, c.directory)
        .where(F.col("audio_id").isin(sorted(c.flac_ids)))
        .collect()
    }
    for f in c.files:
        if f.audio_id in c.flac_ids:
            x = got.get(f.audio_id)
            ok = (
                x is not None
                and x.sr == corpus.SR
                and np.array_equal(np.rint(np.asarray(x.samples) * 32768.0).astype(np.int64), f.pcm)
            )
            r.check(ok, f"FLAC decode of {f.audio_id} differs from the encoded PCM")
    r.check(
        scan_audio_dir(env.spark, c.directory).count() == len(c.files),
        "scan does not see every corpus file",
    )


def workdir_listing(workdir: str) -> dict[str, float]:
    out = {}
    for s in STAGES:
        files = size = 0
        for dirpath, _, names in os.walk(os.path.join(workdir, s)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        out[f"incremental.{s}.files"] = files
        out[f"incremental.{s}.bytes"] = size
    return out


# --------------------------------------------------------------- workloads


def speech_cold(env: BenchEnv, seconds: float) -> Result:
    """All five stages from an empty workdir on a seeded corpus."""
    files = corpus.synth_corpus(env.seed, COLD["n_wav"], COLD["wav_s"]) + corpus.synth_corpus(
        env.seed, COLD["n_flac"], COLD["flac_s"], prefix="clip"
    )
    flac_ids = {f.audio_id for f in files if f.audio_id.startswith("clip")}
    c = env.timed_setup(lambda: write_corpus(env.path("corpus"), files, flac_ids))
    hosts = hosts_frame(env.spark)
    r, m, layer = Result(), None, None
    if env.traced:
        layer, wd = probes.traced_pipeline(env, c, hosts)
        wds = [wd]
    else:
        m = measure(env, seconds, lambda i: run_all(env, c.directory, env.path(f"wd{i}"), hosts))
        wds = [env.path(f"wd{i}") for i in range(len(m.walls))]
    tables = [stage_tables(env, wd) for wd in wds]
    r.check(all(digests(t) == digests(tables[0]) for t in tables), "stage tables differ between ops")
    check_stage_invariants(tables[0], c, r)
    check_flac_exact(env, c, r)
    env.remember_digests("speech_cold", digests(tables[0]), r)
    if m is not None:
        r.extra("audio_x_rt", c.seconds / statistics.median(m.walls), "x")
    return env.finish(r, m, layer)


def speech_delta(env: BenchEnv, seconds: float) -> Result:
    """Fold ~1 new file per 8 into tables built in set-up, then rerun
    with nothing new."""
    n_base, n_new = DELTA["n_base"], DELTA["n_new"]
    files = corpus.synth_corpus(env.seed, n_base + n_new, DELTA["wav_s"])
    base = env.timed_setup(lambda: write_corpus(env.path("base"), files[:n_base]))
    full = env.timed_setup(lambda: write_corpus(env.path("full"), files))
    hosts = hosts_frame(env.spark)
    snap = env.path("snapshot")
    t = time.perf_counter()
    run_all(env, base.directory, snap, hosts)
    env.setup_parts.append(time.perf_counter() - t)
    new_s = sum(f.seconds for f in files[n_base:])

    def wd(i):
        return env.path(f"wd{i}")

    r, m, layer = Result(), None, None
    if env.traced:
        shutil.copytree(snap, wd(0))
        layer, _ = probes.traced_pipeline(
            env, full, hosts, workdir=wd(0), needed=n_new, needed_audio_s=new_s
        )
        layer.update(probes.traced_noop(env, full, hosts, wd(0)))
        wds = [wd(0)]
    else:
        # restoring the tables is outside the measured region; the
        # nothing-new rerun right after each fold is timed on its own
        m = measure(
            env,
            seconds,
            op=lambda i: run_all(env, full.directory, wd(i), hosts),
            before=lambda i: shutil.copytree(snap, wd(i)),
            after=lambda i: run_all(env, full.directory, wd(i), hosts),
        )
        wds = [wd(i) for i in range(len(m.walls))]
    # reference: a cold run over the full corpus, outside the timed region
    ref = env.path("reference")
    run_all(env, full.directory, ref, hosts)
    want = digests(stage_tables(env, ref))
    tables = [stage_tables(env, wd) for wd in wds]
    for t in tables:
        r.check(digests(t) == want, "delta-folded tables differ from a cold run")
    check_stage_invariants(tables[0], full, r)
    env.remember_digests("speech_delta", want, r)
    if m is not None:
        r.extra("audio_x_rt", new_s / statistics.median(m.walls), "x")
        r.extra("noop_s", statistics.median(m.after), "s")
    return env.finish(r, m, layer)


def ingest_flac(env: BenchEnv, seconds: float) -> Result:
    """FLAC corpus: scan -> decode_media -> VAD stage only."""
    from speech_data_pipeline_spark.plans.pipeline import run_pipeline

    spark = env.spark
    files = corpus.synth_corpus(env.seed, FLAC["n_flac"], FLAC["flac_s"], prefix="flac")
    ids = {f.audio_id for f in files}
    c = env.timed_setup(
        lambda: write_corpus(env.path("corpus"), files, ids, procs=env.cores), repeats=1
    )
    # warm-up: one untimed pass, so the JVM and the workers are warm
    t = time.perf_counter()
    run_pipeline(spark, audio_frame(spark, c.directory), env.path("warm"), stages=("vad",))
    env.setup_parts.append(time.perf_counter() - t)
    r, m, layer = Result(), None, None
    if env.traced:
        layer, wd = probes.traced_pipeline(env, c, None, stages=("vad",))
        layer.update(probes.traced_noop(env, c, None, wd, stages=("vad",)))
        wds = [wd]
    else:
        m = measure(
            env,
            seconds,
            lambda i: run_pipeline(
                spark, audio_frame(spark, c.directory), env.path(f"wd{i}"), stages=("vad",)
            ),
        )
        wds = [env.path(f"wd{i}") for i in range(len(m.walls))]
    tables = [stage_tables(env, wd, ("vad",)) for wd in wds]
    r.check(all(digests(t) == digests(tables[0]) for t in tables), "vad differs between ops")
    check_vad_covers_turns(tables[0]["vad"], c, r)
    check_flac_exact(env, c, r)
    env.remember_digests("ingest_flac", digests(tables[0]), r)
    if m is not None:
        r.extra("audio_x_rt", c.seconds / statistics.median(m.walls), "x")
    return env.finish(r, m, layer)
