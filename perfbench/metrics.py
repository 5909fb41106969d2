"""Metric names and units, shared by the runner and its tests.

End-to-end metrics are reported by untraced runs (``--trace 0``) on
every workload; per-layer metrics by traced runs (``--trace 1``), every
name on every workload, 0 where the workload leaves that layer idle.
"""

from __future__ import annotations

import re

STAGES = ("vad", "separation", "diarization", "rematch", "host_match")
STUBS = ("vad", "separate", "diarize", "embed", "cluster", "verify")
KERNELS = (
    "sessionize_gap",
    "sessionize_capped",
    "flatten_active_sets",
    "sliding_windows",
    "attach_sliced_samples",
    "budgeted_topk",
)
#: corpus_mix: family -> registry query names, run in this order
MIX = {
    "segments": (
        "w1_sessionize_capped",
        "w3_sweepline_sets",
        "j3_max_overlap_join",
        "f5_single_overlap_split",
    ),
    "dedup": ("dedup_minhash_lsh", "dedup_ngram_jaccard"),
    "similarity": ("sim_cosine_topk", "sim_ivf_topk"),
    "text": ("text_quality_score", "text_winnow_fingerprints"),
}
#: span layers whose self time is reported as self.<layer>_s
LAYERS = (
    "pipeline",
    "sources",
    "decode",
    "plans.stages",
    "plans.incremental",
    "ml.stubs",
    "kernels",
    "queries",
    "trace",
)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    for s in STAGES:
        m[f"stage.{s}_s"] = "s"
        m[f"stage.{s}.rows"] = "count"
        m[f"stage.{s}.core_util"] = "ratio"
    for s in STAGES:
        m[f"incremental.{s}.pending_s"] = "s"
        m[f"incremental.{s}.files"] = "count"
        m[f"incremental.{s}.bytes"] = "bytes"
    m["incremental.noop_s"] = "s"
    m["pipeline.audio_x_rt"] = "x"
    m["decode_s"] = "s"
    m["decode.audio_s_per_cpu_s"] = "s/s"
    m["sources.decode_ratio"] = "ratio"
    for s in STUBS:
        m[f"stubs.{s}_s"] = "s"
        m[f"stubs.{s}.rows"] = "count"
    for k in KERNELS:
        m[f"kernel.{k}_s"] = "s"
    for fam, names in MIX.items():
        for q in names:
            m[f"query.{q}_s"] = "s"
    for fam in MIX:
        m[f"family.{fam}_s"] = "s"
    m["queries.geomean_s"] = "s"
    for k in ("jobs", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = "count"
    for k in ("shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"spark.{k}"] = "bytes"
    m["spark.task_skew"] = "ratio"
    m["core_util"] = "ratio"
    for layer in LAYERS:
        m[f"self.{layer}_s"] = "s"
    m["trace.wall_s"] = "s"
    m["trace.extra_s"] = "s"
    return m


PER_LAYER = _per_layer()

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
