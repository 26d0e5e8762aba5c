"""The benchmark's workloads, driven only through the library's public API.

Each workload is a closed loop: one client, one Spark driver at
``local[nproc]``, the next pipeline run starts when the previous one has
finished. A run is: set-up (session start, seeded input generation, one
warm-up repetition), then repetitions for the measured window. Every
repetition writes the classifications to parquet (the timed region ends
when the write has committed) and is checked afterwards, outside the timed
region, by reading that parquet back with pyarrow (no Spark job).
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import inputs
import measure
from sparkstats import GroupStats, HeapPeaks

ALL_TIERS = ("exact", "minhash", "simhash", "substring", "embedding", "containment")
DRIVER_HEAP = "2g"
# a fixed heap and a fixed young generation: eden and survivor peaks are
# then the same in every repetition, and the heap peak moves with what the
# pipeline keeps alive long enough to reach the old generation
DRIVER_JAVA_OPTS = f"-Xms{DRIVER_HEAP} -Xmn256m"
SESSION_DEFAULT_BROADCAST = 64 * 1024 * 1024  # what lasvdedup_spark.session sets
REP_TIMEOUT_S = 60
MIN_RECALL = 0.99
BASE_DOCS = 400           # seeded base documents before expand
OUT_COLS = ["url", "component", "classification", "decision_category", "rep_id"]


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    expand: int
    boilerplate: int          # mega-template pages added to the corpus
    tiers: tuple[str, ...]
    broadcast_bytes: int      # spark.sql.autoBroadcastJoinThreshold
    checkpoint: bool          # fresh checkpoint_dir per repetition
    embedding_share: float    # share of documents with an embedding
    stream_batches: int       # micro-batches replayed in the traced run (0 = none)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_x10_shuffle",
            why="design-point shape: x10 corpus plus a mega-template hot "
            "bucket, 1 MB broadcast threshold so every join shuffles",
            expand=10,
            boilerplate=1150,
            tiers=("exact", "minhash"),
            broadcast_bytes=1024 * 1024,
            checkpoint=False,
            embedding_share=0.0,
            stream_batches=8,
        ),
        Workload(
            name="small_tiers_resumable",
            why="all six tiers on a small corpus with a fresh checkpoint_dir "
            "per run: per-stage floor, text/vector tiers, persisted stages",
            expand=1,
            boilerplate=0,
            tiers=ALL_TIERS,
            broadcast_bytes=SESSION_DEFAULT_BROADCAST,
            checkpoint=True,
            embedding_share=0.4,
            stream_batches=0,
        ),
    )
}


@dataclass
class Rep:
    label: str
    wall: float
    ok: bool
    recall: float = 0.0
    false_pairs: int = 0
    digest: str = ""
    shuffle_bytes: int = 0
    peak_heap_mb: float = 0.0
    error: str = ""


def band_census(bands, cfg) -> dict:
    """Skew census of LSH band buckets: hot keys (buckets above the skew
    cutoff), the largest bucket, the rows in hot buckets (the salted path)
    and the within-bucket pair rows a self-join of the buckets emits."""
    from pyspark.sql import functions as F

    hot = F.col("count") > cfg.skew_bucket_cutoff
    c = bands.groupBy("bucket").count().agg(
        F.sum(F.when(hot, 1).otherwise(0)).alias("hot"),
        F.max("count").alias("max"),
        F.sum(F.when(hot, F.col("count")).otherwise(0)).alias("salted"),
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("rows"),
    ).first()
    return {"hot_keys": int(c["hot"]), "max_bucket": int(c["max"]),
            "salted_rows": int(c["salted"]), "pair_rows": float(c["rows"])}


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark run of one workload: owns the Spark session, the
    generated inputs and the work directory they live in."""

    def __init__(self, wl: Workload, seed: int, work: str):
        self.wl, self.seed, self.work = wl, seed, work
        self.rng = np.random.default_rng([seed, 0x5EED])
        self.reps: list[Rep] = []
        self.sizes: dict = {}
        self.timings: dict = {}
        self.plan = ""            # formatted plan of the first pipeline query

    # ---- set-up ---------------------------------------------------------
    def start_session(self) -> None:
        from lasvdedup_spark.config import DedupConfig
        from lasvdedup_spark.session import get_spark

        t0 = time.perf_counter()
        n = cores()
        self.spark = get_spark(
            app_name=f"perfbench_{self.wl.name}",
            master=f"local[{n}]",
            shuffle_partitions=2 * n,
            iceberg_warehouse=os.path.join(self.work, "warehouse"),
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTS
                + " -Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
                "spark.sql.autoBroadcastJoinThreshold": str(self.wl.broadcast_bytes),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.stats = GroupStats(self.spark)
        self.heap = HeapPeaks(self.spark)
        self.cfg = DedupConfig(hash_family="xxhash64")
        self.timings["session_s"] = time.perf_counter() - t0

    def generate(self) -> None:
        """Seeded inputs -> parquet files in the work dir -> DataFrames.
        Records the input sizes and the band census."""
        from lasvdedup_spark.operators import minhash
        from lasvdedup_spark.sources.pages import synth_pages_with_dups

        t0 = time.perf_counter()
        wl, spark, d = self.wl, self.spark, os.path.join(self.work, "input")
        os.makedirs(d, exist_ok=True)
        docs = inputs.documents(self.rng, BASE_DOCS)
        pq.write_table(docs, os.path.join(d, "documents.parquet"))
        pages, truth = synth_pages_with_dups(spark, d, expand=wl.expand)
        if wl.boilerplate:
            chunks = inputs.band0_chunks(
                spark, self.rng, self.cfg, os.path.join(d, "chunk_candidates.parquet"))
            bp = os.path.join(d, "boilerplate.parquet")
            pq.write_table(inputs.boilerplate_pages(self.rng, wl.boilerplate, chunks), bp)
            pages = pages.unionByName(spark.read.parquet(bp))
        pages_dir = os.path.join(d, "pages")
        pages.repartition(3 * cores(), "url").write.parquet(pages_dir)
        self.pages = spark.read.parquet(pages_dir)
        self.pages_dir = pages_dir
        self.truth = {r["url"]: r["cluster_id"] for r in truth.collect()}
        self.urls = set(pq.read_table(pages_dir, columns=["url"])["url"].to_pylist())
        self.emb = None
        if wl.embedding_share:
            emb, twins = inputs.embeddings(self.rng, docs, wl.embedding_share, dim=32)
            ep = os.path.join(d, "embeddings.parquet")
            pq.write_table(emb, ep)
            self.emb = spark.read.parquet(ep).select("url", "embedding")
            # a planted embedding pair is a duplicate too: join its clusters
            self.truth = measure.join_clusters(self.truth, twins)
        texts = pq.read_table(pages_dir, columns=["text"])["text"].to_pylist()
        self.census = band_census(
            minhash.band_buckets(minhash.signatures(self.pages, self.cfg), self.cfg), self.cfg)
        self.sizes = {
            "pages": len(self.urls),
            "mean_tokens_per_page": sum(t.count(" ") + 1 for t in texts) / len(texts),
            "largest_band_bucket": self.census["max_bucket"],
            "hot_band_buckets": self.census["hot_keys"],
            "micro_batches": wl.stream_batches,
            "embeddings": emb.num_rows if self.emb is not None else 0,
        }
        self.timings["generate_s"] = time.perf_counter() - t0

    # ---- one repetition -----------------------------------------------------
    def pipeline(self, label: str, checkpoint_dir: str | None = None):
        """Run pipeline.dedup once and write the classifications; returns
        (wall seconds, output dir, output DataFrame)."""
        from lasvdedup_spark.pipeline import dedup

        out_dir = os.path.join(self.work, "out", label)
        cfg = self.cfg.with_overrides(checkpoint_dir=checkpoint_dir)
        t0 = time.perf_counter()
        out = dedup(self.spark, self.pages, cfg, tiers=self.wl.tiers, embeddings=self.emb)
        out.write.mode("overwrite").parquet(out_dir)
        return time.perf_counter() - t0, out_dir, out

    def rep(self, label: str) -> Rep:
        """One timed, checked repetition in its own job group; a run that
        raises or exceeds REP_TIMEOUT_S counts as failed."""
        ckpt = os.path.join(self.work, "ckpt", label) if self.wl.checkpoint else None
        self.heap.reset()
        timer = threading.Timer(REP_TIMEOUT_S, self.stats.cancel, [label])
        timer.start()
        try:
            with self.stats.group(label):
                wall, out_dir, out = self.pipeline(label, ckpt)
        except Exception:  # noqa: BLE001 - a failed repetition is a result
            r = Rep(label, 0.0, False, error=traceback.format_exc(limit=3))
            self.reps.append(r)
            return r
        finally:
            timer.cancel()
        r = self.check(label, wall, out_dir)
        r.peak_heap_mb = self.heap.peak_mb()
        r.shuffle_bytes = self.stats.counters(label)["shuffle_write_bytes"]
        self.plan = self.plan or self.plan_text(out)
        self.reps.append(r)
        return r

    def check(self, label: str, wall: float, out_dir: str) -> Rep:
        t = pq.read_table(out_dir, columns=OUT_COLS)
        urls = t["url"].to_pylist()
        errors = []
        if len(urls) != len(set(urls)) or set(urls) != self.urls:
            errors.append(
                f"{len(urls)} rows / {len(set(urls))} distinct urls for "
                f"{len(self.urls)} input urls"
            )
        comp = dict(zip(urls, t["component"].to_pylist()))
        recall = measure.truth_recall(self.truth, comp)
        if recall < MIN_RECALL:
            errors.append(f"dup_pair_recall {recall:.4f} < {MIN_RECALL}")
        false = measure.false_pairs(self.truth, comp)
        if false:
            errors.append(f"{false} url pairs share a component but no truth cluster")
        dig = measure.digest(zip(*(t[c].to_pylist() for c in OUT_COLS)))
        first = next((r.digest for r in self.reps if r.digest), dig)
        if dig != first:
            errors.append("classification digest differs from the first repetition")
        return Rep(label, wall, not errors, recall, false, dig, error="; ".join(errors))

    def plan_text(self, df) -> str:
        jvm = self.spark.sparkContext._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return df._jdf.queryExecution().explainString(mode)

    def environment(self) -> dict:
        return {
            "cores": cores(),
            "master": f"local[{cores()}]",
            "driver_heap": DRIVER_HEAP,
            "driver_java_options": DRIVER_JAVA_OPTS,
            "broadcast_threshold_bytes": self.wl.broadcast_bytes,
            "shuffle_partitions": 2 * cores(),
            "loop": "closed, 1 client",
            "why": self.wl.why,
        }
