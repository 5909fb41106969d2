"""The traced pipeline operation: spans around every layer boundary.

The pipeline runs stage by stage (``run_pipeline(stages=(s,))``, the
same tables as one call with all stages). Around each stage the
benchmark times the layers the stage is built from, each on its own
input, persisted or read back from the stage parquet, so that one
layer's time does not include another's:

- ``plans.incremental``: ``pending(audio, done).count()``;
- ``ml.stubs``: each model stub on the input its stage gives it;
- ``kernels``: the interval/session/window kernels the stage uses;
- decode: ``decode_media`` alone, written to the ``noop`` sink.

Outputs are materialized with ``count()`` (Python stubs run in full
under ``count``) or, for column UDFs, by counting the UDF column.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

import sparkstats
from metrics import STAGES
from spans import self_time_by_layer


def _us(df):
    return df.withColumn("start_us", F.floor(F.col("start") * 1e6).cast("long")).withColumn(
        "end_us", F.floor(F.col("end") * 1e6).cast("long")
    )


class Probe:
    def __init__(self, env, wd, audio, hosts, layer):
        self.env, self.wd, self.audio, self.hosts, self.layer = env, wd, audio, hosts, layer
        self.spark = env.spark
        self.kept = []

    def table(self, stage):
        return self.spark.read.parquet(os.path.join(self.wd, stage))

    def keep(self, df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.kept.append(df)
        return df

    def timed(self, name, layer, fn):
        """Run ``fn`` (returns a row count) in a span; record time + rows."""
        t = time.perf_counter()
        with self.env.tracer.span(name, layer):
            rows = fn()
        self.layer[f"{name}_s"] = self.layer.get(f"{name}_s", 0.0) + time.perf_counter() - t
        if name.startswith("stubs."):
            self.layer[f"{name}.rows"] = rows
        return rows

    # one method per stage, run after that stage has written its table

    def vad(self):
        from speech_data_pipeline_spark.ml import stubs
        from speech_data_pipeline_spark.operators.sessions import sessionize_gap
        from speech_data_pipeline_spark.operators.windows import sliding_windows

        self.timed("stubs.vad", "ml.stubs", lambda: stubs.vad(self.audio).count())
        vad = _us(self.table("vad"))
        self.timed(
            "kernel.sessionize_gap",
            "kernels",
            lambda: sessionize_gap(vad, interval=0, key="audio_id").count(),
        )
        self.timed(
            "kernel.sliding_windows",
            "kernels",
            lambda: sliding_windows(vad, window=3_000_000, hop=1_000_000, key="audio_id").count(),
        )

    def separation(self):
        from speech_data_pipeline_spark.ml import stubs
        from speech_data_pipeline_spark.operators.sessions import sessionize_capped

        self.timed("stubs.separate", "ml.stubs", lambda: stubs.separate(self.audio).count())
        sep = self.table("separation")
        segs = sep.where(
            (F.col("kind") == "gap") | (F.col("v_r") >= 0.5)
        ).select(
            "audio_id",
            "start",
            "end",
            F.when(F.col("kind") == "gap", "silence").otherwise("voice").alias("seg_type"),
        )
        self.timed(
            "kernel.sessionize_capped",
            "kernels",
            lambda: sessionize_capped(
                _us(segs),
                interval=5e6,
                max_duration=1000e6,
                key="audio_id",
                type_col="seg_type",
                must_include="voice",
            ).count(),
        )

    def diarization(self):
        from speech_data_pipeline_spark.ml import stubs
        from speech_data_pipeline_spark.operators.sweepline import flatten_active_sets

        diarized = self.keep(stubs.diarize(self.table("vad").select("audio_id", "start", "end")))
        self.timed("stubs.diarize", "ml.stubs", diarized.count)
        tagged = _us(diarized).withColumnRenamed("speaker", "tag")
        self.timed(
            "kernel.flatten_active_sets",
            "kernels",
            lambda: flatten_active_sets(tagged, key="audio_id").count(),
        )

    def rematch(self):
        from speech_data_pipeline_spark.ml import stubs
        from speech_data_pipeline_spark.operators.multimodal import attach_sliced_samples

        single = (
            self.table("diarization")
            .where(~F.col("overlapping") & (F.col("end") - F.col("start") > 0.5))
            .select("audio_id", "start", "end", "speaker")
        )
        sliced = self.keep(attach_sliced_samples(single, self.audio))
        self.timed("kernel.attach_sliced_samples", "kernels", sliced.count)
        emb = self.keep(stubs.embed(sliced).drop("samples"))
        self.timed(
            "stubs.embed", "ml.stubs", lambda: emb.agg(F.count("embedding")).collect()[0][0]
        )
        self.embedded = emb
        self.timed(
            "stubs.cluster",
            "ml.stubs",
            lambda: stubs.cluster_per_group(
                emb.select("audio_id", "start", "end", "embedding"), key="audio_id"
            ).count(),
        )

    def host_match(self):
        from speech_data_pipeline_spark.ml import stubs
        from speech_data_pipeline_spark.operators.windows import budgeted_topk

        rem = self.table("rematch").withColumn(
            "dur_us", F.floor((F.col("end") - F.col("start")) * 1e6).cast("long")
        )
        self.timed(
            "kernel.budgeted_topk",
            "kernels",
            lambda: budgeted_topk(
                rem, budget=180_000_000, key="audio_id", order_cols=("speaker", "start")
            ).count(),
        )
        spk = self.embedded.groupBy("audio_id", "speaker").agg(
            F.array(
                *[F.avg(F.col("embedding")[i]) for i in range(stubs.EMB_DIM)]
            ).alias("emb_b")
        )
        host = stubs.embed(self.hosts).select("host_id", F.col("embedding").alias("emb_a"))
        pairs = self.keep(spk.crossJoin(F.broadcast(host)))
        with self.env.tracer.span("prepare.verify", "trace"):
            pairs.count()
        self.timed(
            "stubs.verify",
            "ml.stubs",
            lambda: stubs.verify_pairs(pairs).agg(F.count("score")).collect()[0][0],
        )

    def release(self):
        for df in self.kept:
            df.unpersist()


def traced_pipeline(
    env,
    c,
    hosts,
    workdir: str | None = None,
    needed: int | None = None,
    needed_audio_s: float | None = None,
    stages: tuple[str, ...] = STAGES,
):
    """One traced pipeline operation.

    Returns ``(per-layer metrics, workdir)``. ``needed`` is how many
    files the operation had to process (all of them on a cold run).
    """
    from speech_data_pipeline_spark.operators.multimodal import decode_media
    from speech_data_pipeline_spark.plans.incremental import pending
    from speech_data_pipeline_spark.plans.pipeline import run_pipeline
    from speech_data_pipeline_spark.sources.audio import scan_audio_dir

    from benchenv import Clock
    from speech import audio_frame, workdir_listing

    spark, sc, tr = env.spark, env.spark.sparkContext, env.tracer
    wd = workdir or env.path("traced")
    needed = len(c.files) if needed is None else needed
    needed_audio_s = c.seconds if needed_audio_s is None else needed_audio_s
    layer: dict[str, float] = {}
    group = "traced"
    sc.setJobGroup(group, "traced operation")
    decoded_files = sc.accumulator(0)
    with Clock(env) as op, tr.span("op", "pipeline"):
        with tr.span("scan", "sources"):
            scan = scan_audio_dir(spark, c.directory)
            scan.count()
        with Clock(env) as dk, tr.span("decode", "decode"):
            payload = scan.select(
                F.xxhash64("audio_id").alias("media_id"), F.col("content").alias("payload")
            )
            decode_media(payload).write.format("noop").mode("overwrite").save()
        layer["decode_s"] = dk.wall
        layer["decode.audio_s_per_cpu_s"] = c.seconds / max(dk.cpu, 1e-3)
        with tr.span("prepare", "trace"):
            audio = audio_frame(spark, c.directory).persist(StorageLevel.MEMORY_AND_DISK)
            audio.count()
        counted = audio_frame(spark, c.directory, decoded_files)
        probe = Probe(env, wd, audio, hosts, layer)
        for s in stages:
            with tr.span(f"stage.{s}", "plans.stages"):
                p = os.path.join(wd, s)
                done = spark.read.parquet(p) if os.path.exists(p) else None
                with Clock(env) as pk, tr.span(f"incremental.{s}.pending", "plans.incremental"):
                    pending(audio, done).count()
                layer[f"incremental.{s}.pending_s"] = pk.wall
                with Clock(env) as sk:
                    run_pipeline(spark, counted, wd, hosts=hosts, stages=(s,))
                layer[f"stage.{s}_s"] = sk.wall
                layer[f"stage.{s}.core_util"] = sk.cpu / (sk.wall * env.cores)
                with tr.span(f"rows.{s}", "trace"):
                    layer[f"stage.{s}.rows"] = spark.read.parquet(p).count()
                getattr(probe, s)()
    probe.release()
    audio.unpersist()
    layer["trace.wall_s"] = op.wall
    layer["core_util"] = op.cpu / (op.wall * env.cores)
    stage_s = sum(layer[f"stage.{s}_s"] for s in stages)
    layer["pipeline.audio_x_rt"] = needed_audio_s / stage_s
    layer["sources.decode_ratio"] = needed / max(decoded_files.value, 1)
    layer.update(sparkstats.tracker_counts(sc, group))
    layer.update(sparkstats.rest_counts(sc, group))
    layer.update(workdir_listing(wd))
    layer.update(self_times(tr))
    return layer, wd


def traced_noop(env, c, hosts, wd: str, stages: tuple[str, ...] = STAGES) -> dict:
    """The nothing-new rerun over ``wd``, in a span; updates self times."""
    from speech_data_pipeline_spark.plans.pipeline import run_pipeline

    from speech import audio_frame

    env.spark.sparkContext.setJobGroup("noop", "nothing-new rerun")
    t = time.perf_counter()
    with env.tracer.span("noop", "plans.incremental"):
        run_pipeline(env.spark, audio_frame(env.spark, c.directory), wd, hosts=hosts, stages=stages)
    return {"incremental.noop_s": time.perf_counter() - t, **self_times(env.tracer)}


def self_times(tr) -> dict[str, float]:
    by_layer = self_time_by_layer(tr.spans)
    out = {f"self.{k}_s": v for k, v in by_layer.items()}
    out["trace.extra_s"] = by_layer.get("trace", 0.0)
    return out
