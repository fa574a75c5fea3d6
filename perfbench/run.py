"""Benchmark of the dedup engine through its two public entry points.

    python3 perfbench/run.py --workload batch_neardup --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):
  batch_neardup  plans.pipeline.run_dedup_pipeline over the generator corpus
  stream_append  streaming.incremental.run_incremental_stream draining the
                 same kind of corpus split into parquet files

A run starts its own Spark session (local[<cores this process may use>],
fixed shuffle width), generates a small corpus to start the workers, builds
the measured corpus from --seed (cached per seed under .perfbench_work/ in
the checkout), makes untimed warm-up calls on the small corpus, then repeats
the workload's call for --seconds and at least MIN_CALLS times, checking
every call's output.
setup_s runs from process start to the first timed call, less the measured
corpus's build time.

--trace 0 prints the end-to-end metrics. --trace 1 makes one untraced timed
call, the baseline of the tracing overhead, then restarts the session with
the Spark event log and the UDF profiler on and prints the per-layer metrics
(see tracing.py).

Metrics are printed as "name value unit" lines after one line per timed
call; the last stdout line is one JSON object {correct, attempted, failed,
metrics}. Exits with 2, printing no result, when the engine package is not
next to this directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE_PACKAGE = "py_image_dedup_spark"

SHUFFLE_PARTITIONS = 4
# Timed calls take 7-13 s here, so at --seconds 10 every run makes exactly
# MIN_CALLS of them. The JVM still speeds up from call to call, so a median
# over a call count that varied with host speed would shift with it.
MIN_CALLS = 2
STARTER_GROUPS = 40
STREAM_FILES = 2  # parquet files a stream drains, one per micro-batch


@dataclass(frozen=True)
class Workload:
    kind: str        # "batch" or "stream"
    groups: int      # generator groups (~3.6 docs each)
    warm_calls: int  # untimed calls before the measured ones


WORKLOADS = {
    "batch_neardup": Workload("batch", groups=500, warm_calls=1),
    "stream_append": Workload("stream", groups=400, warm_calls=1),
}


@dataclass
class Sample:
    run_s: float
    cpu_s: float
    load: str
    steal_s: float
    problems: list
    excused_splits: int


def _prepare_environment() -> None:
    """Keep every file the run writes inside WORK/run and WORK/corpus, and
    give the Python workers the engine on their path."""
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    for sub in ("run/tmp", "run/local", "corpus"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "run/tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "run/local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the launcher JVM and the driver JVM: temp files in the run directory,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    # a shared host: a 2 GiB driver heap is ample for these input sizes
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    sys.path.insert(1, ROOT)  # after this directory


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(app: str, event_log_dir: str | None = None):
    from py_image_dedup_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "run/warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        app_name=app, master=f"local[{cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def shutdown_jvm() -> None:
    """End the JVM that the first session launched (it exits when its
    stdin closes) and wait until it and every process it forked are gone."""
    from pyspark import SparkContext

    from procstat import alive, descendants

    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    procs = [gateway.proc.pid, *descendants(gateway.proc.pid)]
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    deadline = time.monotonic() + 60
    while any(alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    """One workload's corpus, warm-up and timed call on a live session."""

    def __init__(self, name: str, seed: int):
        from workloads import dedup_config

        self.name = name
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.cfg = dedup_config(SHUFFLE_PARTITIONS)
        self._calls = 0

    def start_workers(self, spark) -> None:
        """Generate a small corpus from another seed for the warm-up calls.
        Its Spark jobs are the session's first: they pay the cold start
        (code loading, the Python workers), which belongs to set-up whether
        or not the measured corpus is already on disk."""
        from workloads import build_corpus, ensure_stream_files

        path = os.path.join(WORK, "run", "starter-corpus")
        self.starter = build_corpus(spark, path, STARTER_GROUPS, self.seed + 7919,
                                    STREAM_FILES, cache=False)
        ensure_stream_files(self.starter)

    def build_corpus(self, spark) -> float:
        """The measured corpus (cached on disk per seed); returns seconds."""
        from workloads import build_corpus, ensure_stream_files

        t = time.perf_counter()
        self.corpus = build_corpus(
            spark,
            os.path.join(WORK, "corpus", f"g{self.wl.groups}-s{self.seed}"),
            self.wl.groups, self.seed, STREAM_FILES,
        )
        ensure_stream_files(self.corpus)
        return time.perf_counter() - t

    def run_dir(self) -> str:
        self._calls += 1
        self.last_dir = os.path.join(WORK, "run", f"call{self._calls}")
        return self.last_dir

    def call(self, spark, kind: str | None = None, corpus=None):
        """The workload's public entry point (or the other one, `kind`) on
        the measured corpus (or `corpus`)."""
        from workloads import run_batch, run_stream

        corpus = corpus or self.corpus
        if (kind or self.wl.kind) == "batch":
            return run_batch(spark, corpus, self.cfg, self.run_dir())
        return run_stream(spark, corpus, self.cfg, self.run_dir())

    def check(self, spark, result, kind: str | None = None):
        """(problems, groups split only by the MinHash estimate)."""
        from workloads import check_batch, check_stream

        if (kind or self.wl.kind) == "batch":
            return check_batch(result, self.corpus)
        return check_stream(spark, result, self.corpus)

    def warm_up(self, spark) -> list[float]:
        """Untimed calls on the starter corpus before the measured ones: the
        first call of an entry point compiles its query plans, whatever the
        input size. Returns their seconds."""
        secs = []
        for _ in range(self.wl.warm_calls):
            t0 = time.perf_counter()
            self.call(spark, corpus=self.starter)
            secs.append(time.perf_counter() - t0)
        return secs

    def measure(self, spark, seconds: float, min_calls: int) -> tuple[list[Sample], int]:
        """Timed calls for `seconds` (at least `min_calls`); returns the
        samples that completed and the number of calls that raised."""
        from procstat import loadavg, steal_seconds, tree_cpu

        pid = jvm_pid(spark)
        samples, raised = [], 0
        t_end = time.perf_counter() + seconds
        while len(samples) + raised < min_calls or time.perf_counter() < t_end:
            load, steal0 = loadavg(), steal_seconds()
            cpu0 = tree_cpu(pid)
            t0 = time.perf_counter()
            try:
                result = self.call(spark)
            except Exception:  # a failed call counts against failed_share
                traceback.print_exc()
                raised += 1
                continue
            run_s = time.perf_counter() - t0
            cpu_s = (tree_cpu(pid) - cpu0).total_s
            load = f"{load} -> {loadavg()}"
            steal_s = steal_seconds() - steal0
            samples.append(Sample(run_s, cpu_s, load, steal_s, *self.check(spark, result)))
        return samples, raised


def end_to_end(bench: Bench, samples: list[Sample], setup_s: float,
               rss_mb: float) -> dict:
    run_s = statistics.median(s.run_s for s in samples)
    return {
        "run_s": (run_s, "s"),
        "docs_per_s": (bench.corpus.n_docs / run_s, "1/s"),
        "cpu_s": (statistics.median(s.cpu_s for s in samples), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE_PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {ENGINE_PACKAGE}/ not found in {ROOT}",
              file=sys.stderr)
        return 2
    _prepare_environment()
    try:
        return _run(args)
    finally:
        shutdown_jvm()
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)


def _run(args) -> int:
    from procstat import peak_rss_mb

    bench = Bench(args.workload, args.seed)
    spark = start_session(f"perfbench-{args.workload}")
    session_s = time.time() - PROCESS_START
    try:
        t0 = time.perf_counter()
        bench.start_workers(spark)
        starter_s = time.perf_counter() - t0
        gen_s = bench.build_corpus(spark)
        warm_s = bench.warm_up(spark)
        setup_s = time.time() - PROCESS_START - gen_s
        # a traced run reports only per-layer metrics: one untraced call
        # gives the tracing overhead its baseline
        samples, raised = (bench.measure(spark, 0, 1) if args.trace
                           else bench.measure(spark, args.seconds, MIN_CALLS))
        rss_jvm, rss_py, n_py = peak_rss_mb(jvm_pid(spark))
    finally:
        spark.stop()
    if not samples:
        print("perfbench: every timed call raised", file=sys.stderr)
        return 1

    failed = raised + sum(1 for s in samples if s.problems)
    attempted = raised + len(samples)
    e2e = end_to_end(bench, samples, setup_s, rss_jvm + rss_py)
    print(f"workload {args.workload}  seed {args.seed}  cores {cores()}  "
          f"docs {bench.corpus.n_docs}  calls {attempted}  "
          f"session start {session_s:.1f} s  starter corpus {starter_s:.1f} s  "
          f"corpus build (not in setup_s) {gen_s:.1f} s  warm-up calls "
          f"{' '.join(f'{w:.2f}' for w in warm_s)} s")
    for i, s in enumerate(samples):
        print(f"  call {i}: run_s {s.run_s:.3f}  cpu_s {s.cpu_s:.3f}  "
              f"loadavg {s.load}  steal_s {s.steal_s:.2f}  "
              f"check {'; '.join(s.problems) or 'ok'}  "
              f"groups excused for a split {s.excused_splits}")
    for name, (value, unit) in e2e.items():
        print(f"{name} {value:.4f} {unit}")
    print(f"failed_share {failed / attempted:.4f} share")
    print(f"  (peak RSS: JVM {rss_jvm:.0f} MB, {n_py} Python processes {rss_py:.0f} MB)")

    metrics = e2e
    if args.trace:
        from tracing import traced_tour

        metrics = traced_tour(bench, e2e["run_s"][0], start_session, jvm_pid,
                              os.path.join(WORK, "run"))
        attempted += metrics.pop("_attempted")
        failed += metrics.pop("_failed")
        for name, (value, unit) in metrics.items():
            print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
