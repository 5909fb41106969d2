"""run_pipeline decodes each audio file once per call.

A counting passthrough (``mapInPandas`` + an accumulator) sits ahead of
``decode_media`` over a tiny WAV corpus, so every row it sees is one
file handed to decode. The pipeline must also leave no persisted RDD
behind, whether it returns or raises.
"""

import os

import pytest
from pyspark.sql import functions as F

from speech_data_pipeline_spark.operators.multimodal import decode_media
from speech_data_pipeline_spark.plans.pipeline import run_pipeline
from speech_data_pipeline_spark.sources.audio import scan_audio_dir
from tests.test_multimodal import make_wav

SR = 16000
CONF = {"rematch": {"min_merged_duration": 0.0}}  # toy timescales


def _burst(level, sec):
    return [level, -level] * (SR * sec // 2)


def _silence(sec):
    return [0.0] * (SR * sec)


FILES = {
    "w1": _burst(0.5, 1) + _silence(1) + _burst(0.3, 2),
    "w2": _burst(0.4, 2) + _silence(1) + _burst(0.2, 1),
    "w3": _silence(1) + _burst(0.6, 1) + _silence(1) + _burst(0.3, 1),
}
EXTRA = {"w4": _burst(0.3, 1) + _silence(2) + _burst(0.5, 1)}


def _write(directory, files):
    for name, samples in files.items():
        with open(os.path.join(directory, f"{name}.wav"), "wb") as f:
            f.write(make_wav(samples, sr=SR))


def _count_rows(acc):
    def passthrough(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return passthrough


def counted_audio(spark, directory, acc):
    """``(audio_id, samples, sr)`` decoded from ``directory``; ``acc``
    counts the files handed to ``decode_media``."""
    keyed = scan_audio_dir(spark, directory).select(
        "audio_id",
        F.xxhash64("audio_id").alias("media_id"),
        F.col("content").alias("payload"),
    )
    payload = keyed.select("media_id", "payload")
    payload = payload.mapInPandas(_count_rows(acc), schema=payload.schema)
    return (
        decode_media(payload)
        .join(keyed.select("audio_id", "media_id"), "media_id")
        .select("audio_id", "samples", "sr")
    )


@pytest.fixture(scope="module")
def hosts(spark):
    return spark.createDataFrame(
        [("host_a", [0.5, -0.5] * 50, SR)], ["host_id", "samples", "sr"]
    )


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _decodes(spark, directory, workdir, hosts, **kw):
    """Run the pipeline once; returns how many files went to decode."""
    acc = spark.sparkContext.accumulator(0)
    before = _persistent_rdds(spark)
    run_pipeline(spark, counted_audio(spark, directory, acc), workdir, hosts=hosts, **kw)
    assert _persistent_rdds(spark) == before
    return acc.value


def test_cold_and_superset_rerun_decode_each_file_once(spark, hosts, tmp_path):
    corpus, wd = tmp_path / "corpus", tmp_path / "wd"
    corpus.mkdir()
    _write(corpus, FILES)
    assert _decodes(spark, str(corpus), str(wd), hosts, stage_conf=CONF) == len(FILES)
    assert os.path.exists(wd / "host_match")  # every stage ran

    _write(corpus, EXTRA)
    n = len(FILES) + len(EXTRA)
    assert _decodes(spark, str(corpus), str(wd), hosts, stage_conf=CONF) == n


def test_failing_stage_unpersists_audio(spark, hosts, tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _write(corpus, FILES)
    acc = spark.sparkContext.accumulator(0)
    before = _persistent_rdds(spark)
    with pytest.raises(TypeError):
        run_pipeline(
            spark,
            counted_audio(spark, str(corpus), acc),
            str(tmp_path / "wd"),
            hosts=hosts,
            stage_conf={"separation": {"bogus": 1}},
        )
    assert _persistent_rdds(spark) == before


def test_caller_cached_frame_stays_cached(spark, hosts, tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _write(corpus, FILES)
    acc = spark.sparkContext.accumulator(0)
    audio = counted_audio(spark, str(corpus), acc).cache()
    try:
        audio.count()
        run_pipeline(spark, audio, str(tmp_path / "wd"), hosts=hosts, stages=("vad",))
        assert audio.storageLevel.useMemory
        assert acc.value == len(FILES)
    finally:
        audio.unpersist()
