"""Round-6 measurement harness (bench.py is FROZEN for the driver; this
file holds the extra instrumentation the optimization round needs):

  * per-query noop-sink isolation (guide §1.4) with best-of-N timing,
    identical query construction to bench.py;
  * .explain("formatted") capture for every bench query — or for the
    named declared queries of entry_queries.QUERIES — into
    plans/r06/<query>_<tag>.txt (guide §7.2) — the committed evidence for
    plan-shape claims in OPTIMIZATION_r06.md;
  * job labels (guide §1.5).

Usage:
  python bench_extra.py plans <tag> [declared_query ...]  # plans only (fast)
  python bench_extra.py time [q ...]     # noop-timed queries (all or named)
"""

from __future__ import annotations

import os
import sys
import time


def write_plans(spark, builders: dict, tag: str) -> None:
    """.explain("formatted") of each built query into
    plans/r06/<query>_<tag>.txt next to this script."""
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, build in builders.items():
        p = build()._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(p)
        print(f"wrote {path} ({len(p)} bytes)")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]
    tag = names.pop(0) if mode == "plans" and names else "before"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    expand = int(os.environ.get("SPARK_GRAFT_EXPAND", "1"))
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

    from lasvdedup_spark.config import DedupConfig
    from lasvdedup_spark.operators import exact, minhash, simhash, substring
    from lasvdedup_spark.pipeline import dedup
    from lasvdedup_spark.session import get_spark
    from lasvdedup_spark.sources.pages import synth_pages_with_dups

    spark = get_spark(
        app_name="lasvdedup_bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 32),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "48g",
            "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig(hash_family="xxhash64")

    if mode == "plans" and names:
        from lasvdedup_spark.entry_queries import QUERIES

        write_plans(spark, {n: lambda n=n: QUERIES[n](spark, sf_dir) for n in names}, tag)
        spark.stop()
        return

    pages, _ = synth_pages_with_dups(spark, sf_dir, expand=expand)
    pages = pages.repartition(3 * cpus, "url").localCheckpoint(eager=True)
    narrow = pages.select("url", "text")

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    emb = spark.read.parquet(emb_path)
    dim = len(emb.select("embedding").first()["embedding"])

    from lasvdedup_spark.operators.ann import cosine_dup_pairs, plane_tables

    tables = plane_tables(4, 8, dim)

    builders = {
        "exact_dedup": lambda: exact.exact_dup_clusters(
            narrow, hash_family=cfg.hash_family
        ),
        "minhash_signatures": lambda: minhash.signatures(narrow, cfg),
        "lsh_verified_pairs": lambda: minhash.minhash_dup_pairs(
            narrow, cfg, eager=True
        ),
        "simhash_pairs": lambda: simhash.simhash_dup_pairs(narrow, cfg),
        "substring_pairs": lambda: substring.substring_dup_pairs(narrow, cfg),
        "ann_cosine_pairs": lambda: cosine_dup_pairs(
            emb, tables, threshold=0.8
        ),
        "dedup_pipeline_e2e": lambda: dedup(spark, pages, cfg),
    }

    if mode == "plans":
        write_plans(spark, builders, tag)
        spark.stop()
        return

    timings: dict[str, float] = {}
    for name, build in builders.items():
        if names and name not in names:
            continue
        best = None
        samples = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"r06: {name}")
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"{name}: best={best:.3f} samples={samples}", flush=True)
    print({"total_best": round(sum(timings.values()), 3), "queries": timings})
    spark.stop()


if __name__ == "__main__":
    main()
