"""Physical-plan regression tests — the 100-TB guardrails.

Correctness tests can't catch a plan that silently degrades (a lost
broadcast, a Python eval node creeping into the hot path, column pruning
regressing to full-width scans). These assertions pin the *shape* of the
plans the engine relies on at scale (SURVEY §4)."""

import re

import pytest
from pyspark.sql import functions as F

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.operators.minhash import (
    band_buckets,
    candidate_pairs,
    signatures,
    verified_pairs,
)

CFG = DedupConfig()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _plan(df, execute: bool = False) -> str:
    """Physical plan string. execute=True runs the query first so AQE
    finalizes the plan (codegen spans only appear in the final plan)."""
    if execute:
        df.collect()  # finalizes THIS df's AQE plan (count() builds its own)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-adaptive "Initial Plan" — keep final only
    return plan.split("== Initial Plan ==")[0]


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_hot_path_has_no_python_eval(docs):
    """Signatures -> bands -> candidates -> verify must stay JVM-side:
    no BatchEvalPython / ArrowEvalPython anywhere (UDFs are the slow path;
    the whole MinHash kernel is codegen'd higher-order functions)."""
    sigs = signatures(docs, CFG, id_col="doc_id")
    pairs = verified_pairs(candidate_pairs(band_buckets(sigs, CFG), CFG), sigs, CFG)
    plan = _plan(pairs, execute=True)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "*(" in plan  # whole-stage-codegen spans render as *(N) in Spark 4
    assert "isFinalPlan=true" in plan


def test_column_pruning_reaches_scan(docs, spark, sf_dir):
    """A 2-column projection must scan 2 columns, not the table width —
    never read text/html in stages that don't need them."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    fmt = _formatted(df)
    scan_schema = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan_schema, fmt
    assert "text" not in scan_schema[0], scan_schema[0]
    assert "doc_id" in scan_schema[0] and "lang" in scan_schema[0]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").where(F.col("lang") == "en")
    fmt = _formatted(df)
    pushed = [l for l in fmt.splitlines() if "PushedFilters" in l]
    assert pushed and "IsNotNull(lang)" in pushed[0], pushed
    assert "EqualTo(lang,en)" in pushed[0], pushed[0]


def test_small_dim_join_broadcasts(docs):
    """Member-stats joins against small aggregated dimensions must broadcast
    (reference's dict-lookup join, sequence_grouping.py:55-78) — AQE or the
    explicit hint, either way no shuffle of the big side."""
    stats = docs.groupBy("source").agg(F.avg("n_chars").alias("a"))
    joined = docs.join(F.broadcast(stats), "source")
    assert "BroadcastHashJoin" in _plan(joined)


def test_band_join_is_shuffle_hash_or_sortmerge_on_bucket(docs):
    """The LSH self-join keys on the band bucket — the one big shuffle the
    design allows. Assert the join key is the bucket, not a cross product."""
    sigs = signatures(docs, CFG, id_col="doc_id")
    cand = candidate_pairs(band_buckets(sigs, CFG), CFG)
    plan = _plan(cand)
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_exact_dedup_aggregates_no_window(docs, monkeypatch):
    """Exact dedup = map-side-combinable groupBy on the content hash joined
    back — NO Window node: count/min over Window.partitionBy(hash) would
    land a whole mega-cluster of identical pages in one sorted task (the
    r5 verdict's last whole-group-in-one-task shape on a default tier).
    The scan under the (id, hash) cut reads only the id and text columns."""
    from lasvdedup_spark import lineage
    from lasvdedup_spark.operators.exact import exact_dup_clusters

    cut_plans = []
    share = lineage.share

    def spy(df):
        cut_plans.append(_formatted(df))
        return share(df)

    monkeypatch.setattr(lineage, "share", spy)
    df = exact_dup_clusters(docs, id_col="doc_id")
    plan = _plan(df, execute=True)
    assert "Window" not in plan, plan
    assert "partial_count" in plan  # map-side partial aggregation
    # the narrow (id, hash) projection is checkpointed once and feeds both
    # the aggregate and the join back — never a second hash computation
    assert plan.count("xxhash64(text") == 0
    # ReadSchema pin: the cut shows downstream only as Scan ExistingRDD, so
    # read the scan off the plan handed to the cut
    assert len(cut_plans) == 1
    schemas = re.findall(r"ReadSchema: struct<(.*)>", cut_plans[0])
    assert len(schemas) == 1, cut_plans[0]
    assert [f.split(":")[0] for f in schemas[0].split(",")] == ["doc_id", "text"]


def test_exact_star_edges_have_no_self_join(docs):
    """Star edges: the only join allowed is the 1:1 join back against the
    per-hash aggregate (an all-pairs SELF-join of the pages table is the
    O(m^2) regression this test exists to catch), and no Window node."""
    from lasvdedup_spark.operators.exact import exact_dup_pairs

    plan = _plan(exact_dup_pairs(docs, id_col="doc_id"))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    # exactly one join: rows joined to their per-hash (count, min) row
    n_joins = sum(plan.count(j) for j in
                  ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan


def test_substring_join_is_salted_and_jvm_side(docs):
    """The L-gram pair join must carry the same skew machinery as the band
    join (salted union shape) and stay JVM-side."""
    from lasvdedup_spark.operators.substring import substring_dup_pairs

    df = substring_dup_pairs(docs.limit(50), CFG, id_col="doc_id")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Union" in plan          # plain + salted branches
    assert "_salt" in plan          # the salted branch keys on (gh, _salt)
    assert "CartesianProduct" not in plan


def test_ann_multi_table_jvm_side_no_cartesian(docs, spark, sf_dir):
    from lasvdedup_spark.operators.ann import cosine_dup_pairs, plane_tables

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = cosine_dup_pairs(emb, plane_tables(2, 4, 64), threshold=0.5)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_ivf_centroids_broadcast_and_take_ordered(spark, sf_dir):
    """Centroid selection must be TakeOrdered (no full sort) and the
    centroid table must BROADCAST into the assignment join — the vectors
    side never shuffles for assignment."""
    from lasvdedup_spark.operators.ann import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, 8)
    assert "TakeOrderedAndProject" in _plan(cents)
    assigned = ivf_assign(emb, cents, n_probe=2)
    plan = _plan(assigned)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_classify_two_member_grain_exchanges(spark):
    """r6: classify's member-grain flow is exactly TWO exchanges, both
    load-bearing — the (component, id) pre-aggregation of edge endpoints
    (map-side partial agg reduces edge-grain to member-grain BEFORE the
    shuffle, guide §2.3) and one repartition by component that the
    union+aggregation merge, the rank window and every component statistic
    all reuse. Regression guards: no exchange keyed on bare id (the old
    members-join-scores re-shuffle), exactly one REPARTITION exchange,
    at most one (component, id) exchange."""
    from lasvdedup_spark.config import DedupConfig
    from lasvdedup_spark.operators.classify import classify

    assignments = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], ["id", "component"]
    )
    edges = spark.createDataFrame([("a", "b", 0.9)], ["id_a", "id_b", "jaccard"])
    stats = spark.createDataFrame(
        [("a", 100), ("b", 200), ("c", 300)], ["id", "n_chars"]
    )
    df = classify(assignments, edges, stats, DedupConfig())
    plan = _plan(df)
    import re
    # one explicit repartition(component), reused by merge + all windows
    assert plan.count("REPARTITION_BY_COL") == 1, plan
    # one (component, id) exchange: the pre-aggregated scores (r5 had a
    # second one re-shuffling the merged rows for the windows)
    assert len(re.findall(r"hashpartitioning\(component#\d+, id#", plan)) <= 1, plan
    # the merged member rows are never re-shuffled by component again:
    # only the explicit REPARTITION_BY_COL may key on component alone
    ens_component = re.findall(
        r"hashpartitioning\(component#\d+, \d+\), ENSURE_REQUIREMENTS", plan
    )
    assert not ens_component, plan
