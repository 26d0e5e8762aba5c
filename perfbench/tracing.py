"""The traced run: per-layer spans timed from outside the library.

Each span wraps one public call (``<module>.<function>``) and materializes
its result, in a Spark job group of its own, so its jobs, shuffle bytes,
spill, task skew and failed tasks come from the status store afterwards.
Row counts are taken after the span closes, in a separate group. Spans are
kept in memory and written as JSON when the run ends.

``trace.overhead_s`` is the wall of the traced operator phase minus the
wall of an untraced repetition of the same pipeline.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager

import measure
from workloads import Rep

OPERATOR_SPANS = (
    "minhash.signatures",
    "minhash.capped_buckets",
    "minhash.candidate_pairs",
    "minhash.verified_pairs",
    "minhash.containment_dup_pairs",
    "exact.exact_dup_pairs",
    "simhash.simhash_dup_pairs",
    "substring.substring_dup_pairs",
    "ann.cosine_dup_pairs",
    "components.assign_components",
    "classify.classify",
)
STREAM_SPANS = (
    "streaming.sig_bands",
    "streaming.read_index_pruned",
    "streaming.batch_pairs",
)
SPANS = (*OPERATOR_SPANS, "pipeline.dedup", *STREAM_SPANS)
SPAN_COUNTERS = {
    "wall_s": "s",
    "rows_out": "rows",
    "jobs": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "task_skew": "ratio",
    "failed_tasks": "count",
}
EXTRA_METRICS = {
    "minhash.verify_yield": "ratio",
    "pairs.hot_keys": "count",
    "pairs.max_bucket": "rows",
    "pairs.salted_rows": "rows",
    "pairs.collisions_per_pair": "ratio",
    "pipeline.residual_s": "s",
    "pipeline.resume_s": "s",
    "pipeline.checkpoint_bytes": "B",
    "streaming.add_batch_s_p50": "s",
    "streaming.microbatch_s_p50": "s",
    "streaming.microbatch_s_tail": "s",
    "streaming.latency_growth": "ratio",
    "streaming.index_files": "count",
    "trace.overhead_s": "s",
    "host.cpu_steal_pct": "%",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    names = {f"{s}.{c}": u for s in SPANS for c, u in SPAN_COUNTERS.items()}
    names.update(EXTRA_METRICS)
    return names


ROOT_SPAN = "trace.run"


class Tracer:
    def __init__(self, bench):
        self.bench = bench
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[measure.Span] = []
        self.plans: dict[str, str] = {}
        self.extra: dict[str, float] = {}
        self.notes: dict = {}

    @contextmanager
    def span(self, name: str):
        group = f"span:{name}"
        with self.bench.stats.group(group):
            t0 = time.perf_counter()
            yield
            t1 = time.perf_counter()
        self.spans.append(measure.Span(
            name, t0, t1, ROOT_SPAN, self.run_id, self.bench.stats.counters(group)
        ))

    def call(self, name: str, fn):
        """Span around ``fn()``; its DataFrame is materialized inside the
        span (local checkpoint, reused by later spans) and counted after."""
        with self.span(name):
            df = fn()
            self.plans[name] = self.bench.plan_text(df)
            df = df.localCheckpoint(eager=True)
        with self.bench.stats.group("aux"):
            self.spans[-1].counters["rows_out"] = df.count()
        return df

    def get(self, name: str) -> measure.Span | None:
        return next((s for s in self.spans if s.name == name), None)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def operators(tr: Tracer) -> None:
    """Each pipeline layer called on its own, in pipeline order, with the
    edge merge done between spans the way pipeline.dedup does it."""
    from pyspark.sql import functions as F

    from lasvdedup_spark.operators import (
        ann, classify, components, exact, minhash, simhash, substring,
    )

    b, cfg, tiers = tr.bench, tr.bench.cfg, tr.bench.wl.tiers
    with b.stats.group("aux"):
        narrow = b.pages.select(
            "url", "text", F.length("text").alias("n_chars")
        ).localCheckpoint(eager=True)
    edges = []

    def edge(df, transitive: bool):
        edges.append(df.select("id_a", "id_b", "jaccard",
                               F.lit(transitive).alias("transitive")))

    if "exact" in tiers:
        edge(tr.call("exact.exact_dup_pairs", lambda: exact.exact_dup_pairs(
            narrow, hash_family=cfg.hash_family)).withColumn("jaccard", F.lit(1.0)), True)
    sigs = tr.call("minhash.signatures", lambda: minhash.signatures(narrow, cfg))
    bands = tr.call("minhash.capped_buckets", lambda: minhash.capped_buckets(
        minhash.band_buckets(sigs, cfg), cfg))
    cand = tr.call("minhash.candidate_pairs", lambda: minhash.candidate_pairs(bands, cfg))
    if "minhash" in tiers:
        edge(tr.call("minhash.verified_pairs",
                     lambda: minhash.verified_pairs(cand, sigs, cfg)), False)
    if "containment" in tiers:
        edge(tr.call("minhash.containment_dup_pairs",
                     lambda: minhash.containment_dup_pairs(narrow, cfg, sigs=sigs, bands=bands))
             .select("id_a", "id_b",
                     F.greatest("containment_a", "containment_b").alias("jaccard")), False)
    if "simhash" in tiers:
        edge(tr.call("simhash.simhash_dup_pairs",
                     lambda: simhash.simhash_dup_pairs(narrow, cfg))
             .withColumn("jaccard", 1.0 - F.col("hamming") / F.lit(60.0)), False)
    if "substring" in tiers:
        edge(tr.call("substring.substring_dup_pairs",
                     lambda: substring.substring_dup_pairs(narrow, cfg))
             .withColumn("jaccard", F.lit(1.0)), False)
    if "embedding" in tiers:
        dim = len(b.emb.first()["embedding"])
        tables = ann.plane_tables(cfg.ann_tables, cfg.ann_planes, dim)
        edge(tr.call("ann.cosine_dup_pairs", lambda: ann.cosine_dup_pairs(
            b.emb, tables, cfg.embedding_threshold, id_col="url",
            salt_buckets=cfg.salt_buckets, skew_cutoff=cfg.skew_bucket_cutoff,
        )).withColumnRenamed("cosine", "jaccard"), False)

    with b.stats.group("aux"):
        merged = edges[0]
        for e in edges[1:]:
            merged = merged.unionByName(e)
        merged = merged.groupBy("id_a", "id_b").agg(
            F.max("jaccard").alias("jaccard"), F.max("transitive").alias("transitive")
        ).localCheckpoint(eager=True)
        meta = narrow.select("url", "n_chars")
    assign = tr.call("components.assign_components", lambda: components.assign_components(
        meta, merged, assume_distinct=True, input_cached=True, assume_unique_ids=True))
    tr.call("classify.classify", lambda: classify.classify(
        assign, merged, meta.withColumnRenamed("url", "id"), cfg))

    # the skew census of the bands, taken once at set-up (Bench.generate)
    c = b.census
    n_cand = tr.get("minhash.candidate_pairs").counters["rows_out"]
    tr.extra.update({
        "pairs.hot_keys": c["hot_keys"],
        "pairs.max_bucket": c["max_bucket"],
        "pairs.salted_rows": c["salted_rows"],
        "pairs.collisions_per_pair": c["pair_rows"] / n_cand if n_cand else 0.0,
    })
    verified = tr.get("minhash.verified_pairs")
    if verified and n_cand:
        tr.extra["minhash.verify_yield"] = verified.counters["rows_out"] / n_cand


def pipeline(tr: Tracer, operator_phase_s: float) -> None:
    """An untraced repetition, then the same pipeline.dedup call as one
    span (checked like a repetition), then, for a checkpointed workload, a
    resume over it."""
    b = tr.bench
    untraced_wall = b.rep("untraced").wall
    ckpt = os.path.join(b.work, "ckpt", "traced") if b.wl.checkpoint else None
    with tr.span("pipeline.dedup"):
        wall, out_dir, out = b.pipeline("traced", ckpt)
    tr.plans["pipeline.dedup"] = b.plan_text(out)
    rep = b.check("traced", wall, out_dir)
    b.reps.append(rep)
    tr.spans[-1].counters["rows_out"] = len(b.urls)
    op_wall = sum(s.wall for s in tr.spans if s.name in OPERATOR_SPANS)
    tr.extra["pipeline.residual_s"] = tr.get("pipeline.dedup").wall - op_wall
    tr.extra["trace.overhead_s"] = operator_phase_s - untraced_wall
    if ckpt:
        with b.stats.group("resume"):
            resume_s, out_dir, _ = b.pipeline("resumed", ckpt)
        b.reps.append(b.check("resumed", resume_s, out_dir))
        tr.extra["pipeline.resume_s"] = resume_s
        tr.extra["pipeline.checkpoint_bytes"] = _dir_bytes(ckpt)


def stream(tr: Tracer) -> None:
    """availableNow drain of all but the last micro-batch of a seeded split
    of the workload's pages, then that last batch replayed span by span
    against the index the drain built."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import inputs
    from lasvdedup_spark.streaming import incremental as inc

    b, cfg = tr.bench, tr.bench.cfg
    table = pq.read_table(b.pages_dir).cast(inputs.PAGE_SCHEMA)
    keep = b.rng.permutation(table.num_rows)[: min(table.num_rows, 150 * b.wl.stream_batches)]
    *drained, late = inputs.split_batches(b.rng, table.take(sorted(keep)), b.wl.stream_batches)
    in_dir, late_path = os.path.join(b.work, "stream_in"), os.path.join(b.work, "late.parquet")
    os.makedirs(in_dir)
    for i, batch in enumerate(drained):   # file names in arrival order
        pq.write_table(batch, os.path.join(in_dir, f"batch-{i:04d}.parquet"))
    pq.write_table(late, late_path)
    swork = os.path.join(b.work, "stream")
    with b.stats.group("stream"):
        t0 = time.perf_counter()
        q = inc.incremental_dedup_query(b.spark, in_dir, swork, cfg)
        q.awaitTermination(80)
        drain = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        q.stop()
        pairs = inc.read_pairs(b.spark, swork).select("id_a", "id_b").collect()
    lat = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in progress]
    urls = set(pa.concat_tables(drained)["url"].to_pylist())
    truth = {u: c for u, c in b.truth.items() if u in urls}
    comp = measure.pair_components((r["id_a"], r["id_b"]) for r in pairs)
    recall, false = measure.truth_recall(truth, comp), measure.false_pairs(truth, comp)
    ok = len(progress) == len(drained) and recall >= 0.99 and not false
    b.reps.append(Rep("stream", drain, ok, recall, false, error="" if ok else
                      f"{len(progress)}/{len(drained)} batches, recall {recall:.4f}, "
                      f"{false} false pairs"))
    quarter = max(1, len(lat) // 4)
    tail = measure.tail_percentile(lat)
    tr.notes["stream"] = {
        "batches": len(lat),
        "pages": len(urls),
        "drain_s": drain,
        "trigger_execution_s": lat,
        "tail_percentile": tail[0] if tail else 100.0,
    }
    tr.extra.update({
        "streaming.microbatch_s_p50": measure.median(lat),
        "streaming.microbatch_s_tail": tail[1] if tail else max(lat),
        "streaming.add_batch_s_p50": measure.median(add),
        "streaming.latency_growth": measure.median(lat[-quarter:]) / measure.median(lat[:quarter]),
        "streaming.index_files": sum(
            f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(swork, "index")) for f in fs
        ),
    })

    last = b.spark.read.parquet(late_path).select("url", "text")
    bands = tr.call("streaming.sig_bands", lambda: inc.sig_bands(last, cfg).withColumn(
        "part", F.pmod(F.col("bucket"), F.lit(inc.N_INDEX_PARTS))))
    with b.stats.group("aux"):
        parts = [r["part"] for r in bands.select("part").distinct().collect()]
    idx = tr.call("streaming.read_index_pruned", lambda: inc.read_index_pruned(
        b.spark, os.path.join(swork, "index"), parts))
    tr.call("streaming.batch_pairs", lambda: inc.batch_pairs(bands, idx, cfg))


def traced(bench) -> tuple[dict, dict]:
    bench.start_session()
    bench.generate()
    bench.rep("warmup")
    tr = Tracer(bench)
    t0 = time.perf_counter()
    operators(tr)
    pipeline(tr, time.perf_counter() - t0)
    if bench.wl.stream_batches:
        stream(tr)
    # the root span: its self time is what ran between the layer spans
    tr.spans.append(measure.Span(ROOT_SPAN, t0, time.perf_counter(), None, tr.run_id))

    values = {name: 0.0 for name in per_layer_names()}
    for s in tr.spans[:-1]:
        values[f"{s.name}.wall_s"] = s.wall
        for c in SPAN_COUNTERS:
            if c in s.counters:
                values[f"{s.name}.{c}"] = s.counters[c]
    values.update(tr.extra)
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in per_layer_names().items()}
    detail = {
        "spans": [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": measure.self_time(s, tr.spans), **s.counters}
            for s in tr.spans
        ],
        "plans": tr.plans,
        **tr.notes,
        "repetitions": [vars(r) for r in bench.reps],
    }
    return metrics, detail
