"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload speech_cold --seed 1 --seconds 5 --trace 0

Run it from the repository root. The benchmark generates its inputs from
``--seed`` under ``.perfbench_work/`` in the current directory, starts
one Spark session through the program's own ``session.get_spark``, runs
the workload as a single closed-loop client until at least ``--seconds``
of measurement have passed (and at least one operation), checks every
output, and prints the result as the last line of standard output:

    {"correct": true, "attempted": 1, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a traced operation, and writes its spans as JSON lines to
``.perfbench_work/spans-<workload>-<seed>.jsonl``. The exit code is non-zero, and no result is printed, when the
program cannot be imported or the benchmark itself breaks; a failed
correctness check prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("speech_cold", "speech_delta", "ingest_flac", "corpus_mix")
DRIVER_MEMORY = "1g"


def _prepare_env(work: str) -> None:
    """Environment the program needs before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit starts to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the program; they only see it on PYTHONPATH
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)


def _stop_spark() -> None:
    """Stop the session, then the JVM, then anything still below us."""
    from pyspark import SparkContext

    from procstat import tree_snapshot

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - already closed
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    me = os.getpid()
    deadline = time.time() + 20
    while True:
        left = [pid for pid, _ in tree_snapshot(me) if pid != me]
        if not left:
            return
        sig = signal.SIGTERM if time.time() < deadline - 10 else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            return
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path[:0] = [ROOT, HERE]
    import speech_data_pipeline_spark  # noqa: F401 - fails fast without the program

    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    _prepare_env(work)

    import mix
    import speech
    from benchenv import BenchEnv

    env = BenchEnv(work, args.seed, args.trace == 1, t_start)
    try:
        env.start_session()
        env.warm_workers()
        runner = {
            "speech_cold": speech.speech_cold,
            "speech_delta": speech.speech_delta,
            "ingest_flac": speech.ingest_flac,
            "corpus_mix": mix.corpus_mix,
        }[args.workload]
        result = runner(env, args.seconds)
        t_done = time.perf_counter()
        if env.traced:
            env.tracer.dump(
                os.path.join(
                    os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"
                )
            )
    finally:
        env.close()
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(
        f"phases: session {env.session_s:.1f} s, run {t_done - t_start:.1f} s, "
        f"stop {time.perf_counter() - t_done:.1f} s",
        file=sys.stderr,
    )
    for line in result.notes:
        print(line)
    print(json.dumps(result.as_json()))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
