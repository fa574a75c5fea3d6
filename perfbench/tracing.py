"""Traced run: per-layer metrics gathered from outside the engine.

Runs after the untraced calls, in a fresh Spark session that has the event
log and the session UDF profiler on. In that session it makes, in order:

  1. one call of the other entry point (the pipeline for stream_append,
     a stream drain for batch_neardup), so both paths' layers are measured
     on every workload; it is that path's first call in the process, so
     its figures include the path's warm-up;
  2. the workload's own call, traced; its wall time minus that of the
     run's one untraced call is the tracing overhead;
  3. timed calls into each layer's public function on the committed
     pipeline stage outputs, each under its own Spark job group, two of
     them forcing the band join's salted and capped tiers and the
     distributed connected-components rounds (see `_layer_calls`);
  4. a one-core microbenchmark of the MinHash kernel in this process.

Both entry-point calls are output-checked, and so are the components
labels of step 3; problems are printed and count as failed calls.

Spark jobs are attributed to spans by job group, else by submission time:
the pipeline call's stage windows end at each stage's _SUCCESS commit.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from collections import defaultdict
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from procstat import tree_cpu
from py_image_dedup_spark.functions.minhash import make_minhash_udf, shingle_hashes_u64
from py_image_dedup_spark.operators import lsh
from py_image_dedup_spark.operators.components import connected_components
from py_image_dedup_spark.operators.exact import with_content_hash
from py_image_dedup_spark.operators.modes import pairs_stage, signature_stage
from py_image_dedup_spark.operators.select import select_keepers
from py_image_dedup_spark.plans.pipeline import STAGES

SPARK_SPANS = (*STAGES, "stream")
SPARK_METRICS = {
    "run_s": "s", "cpu_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "tasks": "count",
    "task_max_over_p50": "ratio",
}
# Band-join tier thresholds for the forced-tier pairs_stage call. A
# near-duplicate group leaves at most four distinct texts, so only the
# boilerplate pages' buckets (one page per tenth group) go past 4 rows; at
# 500 groups those buckets hold 9-46 rows, so the cap splits them between
# the salted and the capped tier.
TIER_SALT_THRESHOLD = 4
TIER_BUCKET_CAP = 30
KERNEL_DOCS = 1000
KERNEL_REPEATS = 3
MB = float(1 << 20)


class Spans:
    """Wall-clock spans (name, start, end) recorded around engine calls."""

    def __init__(self):
        self.items: list[tuple[str, float, float]] = []

    def timed(self, spark, name: str, fn):
        """Run fn() under job group `name`; returns (result, seconds)."""
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.items.append((name, t0, t1))
        return out, t1 - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _stage_windows(ckpt: str, t_start: float, t_end: float) -> list[tuple[str, float, float]]:
    """Pipeline stage windows: each ends at its stage's commit marker; jobs
    after the last commit (the cluster-size report) belong to actions."""
    out, prev = [], t_start
    for stage in STAGES:
        end = os.path.getmtime(os.path.join(ckpt, stage, "_SUCCESS"))
        out.append((stage, prev, end))
        prev = end
    name, start, _ = out[-1]
    out[-1] = (name, start, t_end)
    return out


def _pipeline_metrics(out: dict) -> dict[tuple[str, str], float]:
    return {(r["stage"], r["metric"]): r["value"] for r in out["metrics"].collect()}


def _udf_seconds(spark, dump_dir: str) -> float:
    """Profiled seconds inside the MinHash pandas UDF since the last clear."""
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        if any(fn == "minhash_sig" for (_, _, fn) in st.stats):
            total += st.total_tt
    return total


def _kernel_bench(corpus, cfg, seed: int) -> tuple[float, float]:
    """(whole UDF function, shingle hashing) seconds per 10k docs on one
    core, over a fixed seed-derived sample of normalised texts."""
    texts = corpus.labels.sort_values("url")["norm_text"]
    pick = np.random.default_rng(seed).choice(len(texts), size=KERNEL_DOCS)
    sample = texts.iloc[pick].reset_index(drop=True)
    fn = make_minhash_udf(cfg).func
    seed_u64 = np.uint64(cfg.hash_seed)

    def kernel():
        for _ in fn(iter([sample])):
            pass

    def shingles():
        for t in sample:
            shingle_hashes_u64(t, cfg.shingle_k, seed_u64)

    per_10k = 10_000 / KERNEL_DOCS
    res = []
    for f in (kernel, shingles):
        ts = []
        for _ in range(KERNEL_REPEATS):
            t0 = time.perf_counter()
            f()
            ts.append(time.perf_counter() - t0)
        res.append(statistics.median(ts) * per_10k)
    return res[0], res[1]


def _read_event_log(log_dir: str):
    """(jobs: id -> (group, submit_s), tasks by stage id, stage -> job)."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*"))
               if not p.endswith(".inprogress")]
    jobs, stage_job = {}, {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = (
                    props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000.0
                )
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks[ev["Stage ID"]].append(ev["Task Metrics"])
    return jobs, tasks, stage_job


def _spark_span_metrics(log_dir: str, spans: list[tuple[str, float, float]]) -> dict:
    jobs, tasks, stage_job = _read_event_log(log_dir)
    names = {s[0] for s in spans}

    def span_of(job_id):
        group, submitted = jobs[job_id]
        if group in names:
            return group
        for name, t0, t1 in spans:
            if t0 <= submitted <= t1:
                return name
        return None

    by_span: dict[str, dict[int, list[dict]]] = defaultdict(dict)
    for sid, tms in tasks.items():
        name = span_of(stage_job[sid]) if sid in stage_job else None
        if name is not None:
            by_span[name][sid] = tms
    out = {}
    for name in SPARK_SPANS:
        stages = by_span.get(name, {})
        all_t = [t for tms in stages.values() for t in tms]

        def total(key, sub=None):
            return sum((t.get(sub, {}) if sub else t).get(key, 0) for t in all_t)

        skew = 0.0
        if stages:
            heavy = max(stages.values(), key=lambda tms: sum(t["Executor Run Time"] for t in tms))
            runs = [t["Executor Run Time"] for t in heavy]
            skew = max(runs) / max(statistics.median(runs), 1.0)
        vals = {
            "run_s": total("Executor Run Time") / 1e3,
            "cpu_s": total("Executor CPU Time") / 1e9,
            "shuffle_read_mb": (total("Remote Bytes Read", "Shuffle Read Metrics")
                                + total("Local Bytes Read", "Shuffle Read Metrics")) / MB,
            "shuffle_write_mb": total("Shuffle Bytes Written", "Shuffle Write Metrics") / MB,
            "spill_mb": total("Disk Bytes Spilled") / MB,
            "tasks": float(len(all_t)),
            "task_max_over_p50": skew,
        }
        for metric, unit in SPARK_METRICS.items():
            out[f"spark.{name}.{metric}"] = (vals[metric], unit)
    return out


def _layer_calls(spark, spans: Spans, bench, ckpt: str, pm: dict) -> tuple[dict, list[str]]:
    """Each layer's public function on the committed stage outputs, and the
    problems found by comparing the two connected-components paths.

    At these input sizes the pipeline takes only the plain band join and the
    single-task components path. Two more calls force the rest: pairs_stage
    with tier thresholds that the boilerplate buckets exceed (salted and
    capped tiers), and connected_components without a known edge count
    (distributed star rounds), whose labels must equal the single-task ones."""
    cfg = bench.cfg
    tiered_cfg = replace(cfg, salt_threshold=TIER_SALT_THRESHOLD, bucket_cap=TIER_BUCKET_CAP)
    sigs = spark.read.parquet(os.path.join(ckpt, "signatures"))
    pairs = spark.read.parquet(os.path.join(ckpt, "pairs"))
    clusters = spark.read.parquet(os.path.join(ckpt, "clusters"))
    pages = spark.read.parquet(bench.corpus.pages_path)

    _, sig_s = spans.timed(spark, "operators.modes.signature_stage", lambda: _noop(
        signature_stage(with_content_hash(pages).select("content_hash", "url", "norm_text"), cfg)
    ))
    pair_stats: dict = {}
    _, pairs_s = spans.timed(spark, "operators.modes.pairs_stage", lambda: _noop(
        pairs_stage(sigs, cfg, pair_stats)
    ))
    tier_stats: dict = {}
    tiered_pairs, tiered_s = spans.timed(spark, "operators.modes.pairs_stage.tiered", lambda: (
        pairs_stage(sigs, tiered_cfg, tier_stats).count()
    ))
    candidates, _ = spans.timed(spark, "operators.lsh.candidate_pairs", lambda: (
        lsh.candidate_pairs(lsh.explode_bands(sigs, cfg), cfg).count()
    ))
    n_edges = int(pm.get(("pairs", "rows"), 0))
    edges = pairs.select(F.xxhash64("url_a").alias("uid_a"), F.xxhash64("url_b").alias("uid_b"))
    vertices = sigs.select(F.xxhash64("url").alias("uid"))

    def components(stats: dict, known_edge_count):
        return connected_components(
            edges, vertices=vertices, src="uid_a", dst="uid_b", vertex_col="uid",
            stats=stats, known_edge_count=known_edge_count,
            single_task_edges=cfg.cc_single_task_edges,
        ).localCheckpoint(eager=True)

    cc_stats: dict = {}
    single, cc_s = spans.timed(spark, "operators.components",
                               lambda: components(cc_stats, n_edges))
    rounds_stats: dict = {}
    rounds, rounds_s = spans.timed(spark, "operators.components.rounds",
                                   lambda: components(rounds_stats, None))
    label_diff = (
        single.alias("s").join(rounds.alias("r"), "uid", "full_outer")
        .where(~F.col("s.cluster_id").eqNullSafe(F.col("r.cluster_id")))
        .count()
    )
    problems = []
    if cc_stats.get("rounds") != 0 or not rounds_stats.get("rounds"):
        problems.append("connected_components took another path than forced")
    if label_diff:
        problems.append(f"{label_diff} vertices labelled differently by the "
                        "single-task and distributed components paths")
    _, sel_s = spans.timed(spark, "operators.select", lambda: _noop(select_keepers(clusters, cfg)))
    return {
        "operators.modes.signature_wall_s": (sig_s, "s"),
        "operators.modes.pairs_wall_s": (pairs_s, "s"),
        "operators.modes.candidate_pairs": (float(candidates), "count"),
        "operators.modes.verified_pairs": (float(n_edges), "count"),
        "operators.modes.verify_yield": (n_edges / candidates if candidates else 0.0, "ratio"),
        "operators.modes.full_band_pairs": (float(pair_stats.get("full_band_pairs", 0)), "count"),
        "operators.modes.tiered.wall_s": (tiered_s, "s"),
        "operators.modes.tiered.verified_pairs": (float(tiered_pairs), "count"),
        **{
            f"operators.modes.tiered.{k}": (float(tier_stats.get(k, 0)), "count")
            for k in ("hot_buckets", "hot_bucket_rows", "warm_buckets")
        },
        "operators.components.edges": (float(n_edges), "count"),
        "operators.components.wall_s": (cc_s, "s"),
        "operators.components.rounds": (float(rounds_stats.get("rounds", 0)), "count"),
        "operators.components.rounds_wall_s": (rounds_s, "s"),
        "operators.select.wall_s": (sel_s, "s"),
        "operators.select.max_cluster_rows": (pm.get(("actions", "max_cluster_rows"), 0.0), "count"),
    }, problems


def _stream_metrics(spark, res) -> dict:
    trig = [p["trigger_s"] for p in res.progress]
    scan = pd.read_parquet(os.path.join(res.store, "scan_metrics"))
    scanned = scan[scan["store_scanned"]]
    touched = (
        float((scanned["touched_band_partitions"] / scanned["total_band_partitions"]).mean())
        if len(scanned) else 0.0
    )
    band_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(os.path.join(res.store, "bands"))
        for f in fs if f.endswith(".parquet")
    )
    n_pairs = spark.read.parquet(res.pairs).count()
    return {
        "streaming.batch_first_s": (trig[0], "s"),
        "streaming.batch_last_s": (trig[-1], "s"),
        "streaming.batch_p50_s": (statistics.median(trig), "s"),
        "streaming.add_batch_s": (statistics.median(p["add_batch_s"] for p in res.progress), "s"),
        "streaming.store_sig_rows": (
            float(spark.read.parquet(os.path.join(res.store, "sigs")).count()), "count"),
        "streaming.store_band_mb": (band_bytes / MB, "MB"),
        "streaming.touched_partition_share": (touched, "ratio"),
        "streaming.pairs_per_batch": (n_pairs / len(trig), "count"),
    }


def traced_tour(bench, untraced_run_s: float, start_session, jvm_pid, run_root: str) -> dict:
    """Per-layer metrics as {name: (value, unit)}, plus the number of
    checked calls under "_attempted" and "_failed"."""
    log_dir = os.path.join(run_root, "eventlog")
    own = bench.wl.kind
    other = "stream" if own == "batch" else "batch"
    spans = Spans()
    spark = start_session(f"perfbench-{bench.name}-traced", event_log_dir=log_dir)
    try:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        pid = jvm_pid(spark)
        results, problems = {}, []
        for kind in (other, own):
            gc0, cpu0 = _gc_seconds(spark), tree_cpu(pid)
            spark.profile.clear()
            res, secs = spans.timed(spark, f"call.{kind}", lambda: bench.call(spark, kind))
            results[kind] = (res, secs, tree_cpu(pid) - cpu0, _gc_seconds(spark) - gc0)
            # the call's jobs are attributed to its stage windows, not to it
            _, t0, t1 = spans.items.pop()
            if kind == "batch":
                udf_s = _udf_seconds(spark, os.path.join(run_root, "profile"))
                ckpt = bench.last_dir
                spans.items.extend(_stage_windows(ckpt, t0, t1))
            else:
                spans.items.append(("stream", t0, t1))
            problems.append((f"call.{kind}", bench.check(spark, res, kind)[0]))

        batch_out, batch_s = results["batch"][0], results["batch"][1]
        pm = _pipeline_metrics(batch_out)
        metrics = {}
        for stage in STAGES:
            metrics[f"pipeline.{stage}.wall_s"] = (pm[(stage, "seconds")], "s")
            metrics[f"pipeline.{stage}.rows"] = (pm[(stage, "rows")], "count")
        metrics["pipeline.unaccounted_s"] = (
            batch_s - sum(pm[(s, "seconds")] for s in STAGES), "s")
        metrics["operators.exact.exact_dup_share"] = (
            1.0 - pm[("signatures", "rows")] / pm[("pages_meta", "rows")], "ratio")
        layer_metrics, layer_problems = _layer_calls(spark, spans, bench, ckpt, pm)
        metrics.update(layer_metrics)
        problems.append(("operators.components", layer_problems))
        metrics.update(_stream_metrics(spark, results["stream"][0]))
        kernel_s, shingle_s = _kernel_bench(bench.corpus, bench.cfg, bench.seed)
        _, own_s, own_cpu, own_gc = results[own]
        metrics.update({
            "functions.minhash.kernel_s_per_10k": (kernel_s, "s"),
            "functions.minhash.shingle_s_per_10k": (shingle_s, "s"),
            "functions.minhash.udf_s": (udf_s, "s"),
            "process.jvm_cpu_s": (own_cpu.jvm_s, "s"),
            "process.python_cpu_s": (own_cpu.python_s, "s"),
            "process.jvm_gc_s": (own_gc, "s"),
            "trace.untraced_run_s": (untraced_run_s, "s"),
            "trace.traced_run_s": (own_s, "s"),
            "trace.overhead_s": (own_s - untraced_run_s, "s"),
        })
    finally:
        spark.stop()
    metrics.update(_spark_span_metrics(log_dir, spans.items))
    sig_run = metrics["spark.signatures.run_s"][0]
    metrics["functions.minhash.udf_share"] = (udf_s / sig_run if sig_run else 0.0, "ratio")
    for name, found in problems:
        print(f"  traced {name}: check {'; '.join(found) or 'ok'}")
    metrics["_attempted"] = len(problems)
    metrics["_failed"] = sum(1 for _, found in problems if found)
    return metrics
