"""Benchmark inputs, the two timed entry points, and their output checks.

Inputs come from the engine's own deterministic generator
(`sources.pages.generate_pages`) under the benchmark seed and are written
to parquet once per (workload, seed); the engine only ever sees those
files or a DataFrame read from them. Fixture labels (group_id, variant)
stay on the benchmark side for the checks.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators.exact import with_content_hash
from py_image_dedup_spark.plans.pipeline import run_dedup_pipeline
from py_image_dedup_spark.sources.pages import expected_clusters, generate_pages
from py_image_dedup_spark.streaming.incremental import run_incremental_stream

ENGINE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
MAX_DIST = 0.30
# A near-duplicate group left split by the engine is excused only when every
# pair across the split has exact Jaccard below EXCUSE_JACCARD, and only up
# to MAX_EXCUSED_SPLITS groups per call (see `split_groups`). 0.82 is 3.3
# standard deviations of a 128-position estimate above the 0.70 cutoff. Over
# 30 seeds of the 500-group batch corpus (250 near-duplicate groups) the
# engine split 0-5 groups per seed, 1.5 on average, all at Jaccard
# 0.775-0.801; over 20 seeds of the 400-group stream corpus, 0-3.
EXCUSE_JACCARD = 0.82
MAX_EXCUSED_SPLITS = 8


def dedup_config(shuffle_partitions: int) -> DedupConfig:
    return DedupConfig(max_dist=MAX_DIST, shuffle_partitions=shuffle_partitions)


@dataclass(frozen=True)
class Corpus:
    path: str
    labels: pd.DataFrame  # url, group_id, variant, content_hash, norm_text,
                          # expected_action
    n_files: int          # parquet files the stream drains

    @property
    def pages_path(self) -> str:  # engine columns plus fixture labels
        return os.path.join(self.path, "pages")

    @property
    def stream_dir(self) -> str:  # the same rows split into numbered files
        return os.path.join(self.path, "stream")

    @property
    def n_docs(self) -> int:
        return len(self.labels)


def build_corpus(spark, path: str, groups: int, seed: int, n_files: int,
                 cache: bool = True) -> Corpus:
    """Generate the corpus for one seed under `path`, or reuse the one a
    previous run left there when `cache`."""
    labels_path = os.path.join(path, "labels.parquet")
    if not (cache and os.path.exists(labels_path)):
        shutil.rmtree(path, ignore_errors=True)
        generate_pages(spark, groups, seed=seed).write.parquet(f"{path}/pages")
        pages = spark.read.parquet(f"{path}/pages")
        labels = (
            with_content_hash(pages)
            .select("url", "group_id", "variant", "content_hash", "norm_text")
            .join(expected_clusters(pages).select("url", "expected_action"),
                  "url", "left")
            .toPandas()
        )
        labels.to_parquet(labels_path + ".tmp")
        os.rename(labels_path + ".tmp", labels_path)
    return Corpus(path, pd.read_parquet(labels_path), n_files)


def ensure_stream_files(corpus: Corpus) -> None:
    """One parquet file per micro-batch, rows assigned by url hash so each
    group's variants spread over batches and later batches must find their
    partners in the band store. mtimes increase with the file number so the
    file source drains them in that order."""
    out_dir = corpus.stream_dir
    if os.path.isdir(out_dir):
        return
    table = pq.read_table(corpus.pages_path, columns=list(ENGINE_COLUMNS))
    # micro-second UTC timestamps: the type Spark reads back as TIMESTAMP
    ts = table.schema.get_field_index("warc_ts")
    table = table.set_column(
        ts, "warc_ts", table.column(ts).cast(pa.timestamp("us", tz="UTC"))
    )
    part = pd.Series(
        [zlib.crc32(u.encode()) % corpus.n_files for u in table.column("url").to_pylist()]
    )
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = time.time() - 3600
    for k in range(corpus.n_files):
        dst = f"{tmp}/part-{k:03d}.parquet"
        pq.write_table(table.filter(pa.array(part == k)), dst)
        os.utime(dst, (base + k, base + k))
    os.rename(tmp, out_dir)


# ------------------------------------------------------------ entry points

def run_batch(spark, corpus: Corpus, cfg: DedupConfig, ckpt: str) -> dict:
    """One full pipeline call; every stage is committed when it returns."""
    pages = spark.read.parquet(corpus.pages_path).select(*ENGINE_COLUMNS)
    return run_dedup_pipeline(spark, pages, cfg, ckpt, resume=False)


@dataclass(frozen=True)
class StreamResult:
    store: str
    pairs: str
    progress: list  # one dict per micro-batch: trigger_s, add_batch_s


def run_stream(spark, corpus: Corpus, cfg: DedupConfig, run_dir: str) -> StreamResult:
    """Drain every input file, one file per micro-batch."""
    store, pairs = f"{run_dir}/store", f"{run_dir}/pairs"
    query = run_incremental_stream(
        spark, corpus.stream_dir, store, pairs, cfg,
        available_now=True, max_files_per_trigger=1,
    )
    query.awaitTermination()
    progress = [
        {
            "trigger_s": p["durationMs"].get("triggerExecution", 0) / 1000.0,
            "add_batch_s": p["durationMs"].get("addBatch", 0) / 1000.0,
        }
        for p in query.recentProgress
        if p["numInputRows"] > 0
    ]
    return StreamResult(store, pairs, progress)


# ------------------------------------------------------------ output checks

def check_batch(out: dict, corpus: Corpus) -> tuple[list[str], int]:
    """Problems found in one pipeline call's action table (empty = pass),
    and the number of near-duplicate groups excused for a split (see
    `split_groups`)."""
    act = out["actions"].select("url", "cluster_id", "action", "keep_url").toPandas()
    lab = corpus.labels
    problems = []
    if len(act) != corpus.n_docs or act["url"].nunique() != len(act):
        problems.append(f"{len(act)} action rows for {corpus.n_docs} input urls")
    if set(act["url"]) != set(lab["url"]):
        problems.append("action urls differ from input urls")

    keeps = act[act["action"] == "keep"]
    per_cluster = keeps.groupby("cluster_id").size()
    if len(per_cluster) != act["cluster_id"].nunique() or (per_cluster != 1).any():
        problems.append("a cluster without exactly one keep")
    keep_of = dict(zip(keeps["cluster_id"], keeps["url"]))
    if (act["keep_url"] != act["cluster_id"].map(keep_of)).any():
        problems.append("a keep_url that is not its cluster's keeper")

    gold = act.merge(lab, on="url")
    gold = gold[gold["variant"] != "boiler"]
    if (gold.groupby("cluster_id")["group_id"].nunique() != 1).any():
        problems.append("a cluster merging two groups")
    excused, split_problems = split_groups(gold, "cluster_id")
    problems += split_problems
    wrong = gold[
        (gold["action"] != gold["expected_action"])
        & ~gold["group_id"].isin(excused)
    ]
    if len(wrong):
        problems.append(f"{len(wrong)} rows disagree with expected_clusters")
    return problems, len(excused)


def check_stream(spark, res: StreamResult, corpus: Corpus) -> tuple[list[str], int]:
    """Emitted pairs are within max_dist, never join two groups, and connect
    every near-duplicate group (exact copies count as connected: the engine
    signs one representative per content hash within a batch)."""
    pairs = spark.read.parquet(res.pairs).select("url_a", "url_b", "dist").toPandas()
    lab = corpus.labels
    problems = []
    if len(res.progress) != corpus.n_files:
        problems.append(f"{len(res.progress)} batches for {corpus.n_files} files")
    if (pairs["dist"] > MAX_DIST + 1e-9).any():
        problems.append("a pair with dist above max_dist")

    gold = lab[lab["variant"] != "boiler"]
    group_of = dict(zip(gold["url"], gold["group_id"]))
    ga, gb = pairs["url_a"].map(group_of), pairs["url_b"].map(group_of)
    if (ga.notna() & gb.notna() & (ga != gb)).any():
        problems.append("a pair joining two groups")

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in zip(pairs["url_a"], pairs["url_b"]):
        union(a, b)
    for _, urls in lab.groupby("content_hash")["url"]:
        for u in urls.iloc[1:]:
            union(urls.iloc[0], u)
    gold = gold.assign(component=gold["url"].map(find))
    excused, split_problems = split_groups(gold, "component")
    return problems + split_problems, len(excused)


def shingles(norm_text: str, k: int) -> set[bytes]:
    """Character k-shingles of a normalised text as the engine defines them
    (UTF-8 bytes; a text shorter than k is one shingle), taken here without
    the engine's hashing or MinHash code."""
    b = norm_text.encode("utf-8")
    if len(b) < k:
        return {b}
    return {b[i:i + k] for i in range(len(b) - k + 1)}


def split_groups(gold: pd.DataFrame, part_col: str) -> tuple[list[int], list[str]]:
    """Near-duplicate groups (even group_id) whose docs landed in more than
    one part: the ones excused, and the problems the rest make.

    The engine verifies on a 128-position MinHash estimate, which misses a
    pair near the max_dist cutoff now and then: a page whose true Jaccard
    with its group is about 0.78 can estimate below 0.70. A split is excused
    when the exact shingle Jaccard of every pair of docs across its parts
    is below EXCUSE_JACCARD, and at most MAX_EXCUSED_SPLITS groups are
    excused per call. Any other split is a problem, as is a call with more
    excusable splits than that, which is what a kernel losing estimate
    quality would produce."""
    even = gold[gold["group_id"] % 2 == 0]
    n_parts = even.groupby("group_id")[part_col].nunique()
    split = [int(g) for g in n_parts[n_parts > 1].index]
    if not split:
        return [], []
    docs = even[even["group_id"].isin(split)]
    k = dedup_config(1).shingle_k
    shingles_of = {u: shingles(t, k) for u, t in zip(docs["url"], docs["norm_text"])}
    excused, unexplained = [], 0
    for gid, grp in docs.groupby("group_id"):
        rows = list(zip(grp["url"], grp[part_col]))
        best = max(
            len(shingles_of[ua] & shingles_of[ub]) / len(shingles_of[ua] | shingles_of[ub])
            for i, (ua, part_a) in enumerate(rows)
            for ub, part_b in rows[i + 1:]
            if part_a != part_b
        )
        if best < EXCUSE_JACCARD:
            excused.append(int(gid))
        else:
            unexplained += 1
    problems = []
    if unexplained:
        problems.append(f"{unexplained} groups split across a pair of Jaccard "
                        f">= {EXCUSE_JACCARD}")
    if len(excused) > MAX_EXCUSED_SPLITS:
        problems.append(f"{len(excused)} groups split near the cutoff, more than "
                        f"{MAX_EXCUSED_SPLITS}")
    return excused, problems
