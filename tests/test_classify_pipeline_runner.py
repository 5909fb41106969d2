"""Tests for the F2 compat classifier and the composed pipeline runner."""

import shutil
import tempfile

from speech_data_pipeline_spark.operators.classify import classify_silence
from speech_data_pipeline_spark.plans.pipeline import run_pipeline


def gaps_df(spark):
    cols = [
        "audio_id", "start", "end",
        "energy_ratio_prev", "energy_ratio_next",
        "peak_ratio_prev", "peak_ratio_next",
    ]
    data = [
        ("a", 0.0, 0.1, 0.5, 0.5, 0.5, 0.5),   # short, loud  -> silence
        ("a", 1.0, 2.0, 0.01, 0.01, 0.01, 0.01),  # long, quiet -> silence
        ("a", 3.0, 3.1, 0.01, 0.01, 0.01, 0.01),  # short AND quiet
        ("a", 5.0, 6.0, 0.5, 0.5, 0.5, 0.5),   # long, loud -> noise
    ]
    return spark.createDataFrame(data, cols)


def test_classify_silence_fixed_semantics(spark):
    out = classify_silence(gaps_df(spark))
    got = {r.start: (r.silence, r.is_short, r.is_quiet) for r in out.collect()}
    assert got[0.0] == (True, True, False)
    assert got[1.0] == (True, False, True)
    assert got[3.0] == (True, True, True)
    assert got[5.0] == (False, False, False)
    assert out.count() == 4


def test_classify_silence_compat_double_append(spark):
    out = classify_silence(gaps_df(spark), compat_double_append=True)
    assert out.count() == 5  # the short-AND-quiet row appears twice
    assert out.where("start = 3.0").count() == 2


def test_run_pipeline_end_to_end_and_incremental(spark):
    from tests.test_pipeline import synth_audio, SR

    tmp, cold_tmp = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        audio = synth_audio(spark)
        hosts = spark.createDataFrame(
            [("host_a", [0.5, -0.5] * 50, SR)], ["host_id", "samples", "sr"]
        )
        conf = {"rematch": {"min_merged_duration": 0.0}}  # toy timescales
        out = run_pipeline(spark, audio, tmp, hosts=hosts, stage_conf=conf)
        assert set(out) == {"vad", "separation", "diarization", "rematch", "host_match"}
        vad_n = out["vad"].count()
        assert vad_n > 0
        assert out["rematch"].count() > 0  # stage_conf override reached the stage
        assert out["diarization"].where("overlapping").count() >= 0
        # re-run: idempotent, no growth
        out2 = run_pipeline(spark, audio, tmp, hosts=hosts, stage_conf=conf)
        assert out2["vad"].count() == vad_n
        assert out2["diarization"].count() == out["diarization"].count()
        # superset re-run: folding in one new file equals a cold run
        extra = spark.createDataFrame(
            [("f4", [0.3, -0.3] * SR + [0.0] * (2 * SR) + [0.5, -0.5] * SR, SR)],
            ["audio_id", "samples", "sr"],
        )
        superset = audio.unionByName(extra)
        out3 = run_pipeline(spark, superset, tmp, hosts=hosts, stage_conf=conf)
        cold = run_pipeline(spark, superset, cold_tmp, hosts=hosts, stage_conf=conf)
        assert out3["vad"].where("audio_id = 'f4'").count() > 0
        for stage in out3:
            assert table(out3[stage]) == table(cold[stage]), stage
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(cold_tmp, ignore_errors=True)


def table(df):
    """Order-insensitive, exact comparison key for a stage table."""
    cols = sorted(df.columns)
    return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
