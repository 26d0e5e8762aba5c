"""Rank, representative selection, and the 5-way classification cascade.

Reference semantics being reproduced (web mapping per SURVEY §2.8):

  * rank: multi-key sort [dist_to_target ASC, quality cols DESC], rank = row
    position, ties stable (/root/reference/lasvdedup/utils/io_utils.py:48-55);
    distributed equivalent: explicit id tiebreak — order-isomorphic within
    every group, hence identical selections (tie test
    tests/utils/test_sequence_grouping.py:139-145 accepts either on true ties).
  * representative: arg-min rank per cluster (sequence_grouping.py:80-87).
  * cascade (sequence_grouping.py:185-353, README.md:14-26):
      1 SingleSequence   singleton component            -> good
      2 BelowThreshold   ALL pairs >= strong_threshold  -> rep good, rest bad
      3 SmallClade       small component, mixed sims    -> rep good, rest bad
      4 OutliersDetected big component with robust-stat outliers -> best
        non-outlier good, everyone else (incl. outliers) bad
        (sequence_grouping.py:292-325); all-outlier fallback keeps everyone
        in play (sequence_grouping.py:297-300). With cfg.detach_outliers
        (web-dedup mode) outliers are instead detached as kept documents —
        an outlier is *not* a duplicate of the cluster, deleting it would
        lose data.
      5 TrueCoinfection  big component, no outliers     -> ALL kept
        ("coinfection": distinct-but-related, classification.py:167-173)

  * outlier rule (distance_matrix.py:45-72): score > median + z*MAD with the
    MAD=0 fallback median + evolution_threshold, where evolution_threshold =
    (1-strong_threshold)/z  (reference: PWD/Z_THRESHOLD,
    sequence_grouping.py:291). Score here = mean distance (1 - mean jaccard)
    to other component members — the web analog of root-to-tip depth.
    Medians are EXACT (F.median), matching numpy (distance_matrix.py:53-54).

Everything is grouped aggregates + window functions — one pass over members,
one over pairs, no driver iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lasvdedup_spark import lineage
from lasvdedup_spark.config import DedupConfig

GOOD, BAD, COINFECTION = "good", "bad", "coinfection"


def rank_members(
    members: DataFrame,
    cfg: DedupConfig,
    length_col: str = "n_chars",
    quality_cols: tuple[str, ...] = (),
    id_col: str = "id",
    partition_by: str | None = "component",
) -> DataFrame:
    """Attach dist_to_target + rank.

    partition_by=None gives the reference's *global* rank (io_utils.py:48-55)
    — fine for oracle parity queries, a single-partition hazard at scale.
    Partitioned rank is order-isomorphic per group (SURVEY §2.5), which is
    the only way rank is ever consumed (sequence_grouping.py:87).
    """
    d = members.withColumn(
        "dist_to_target", F.abs(F.col(length_col) - F.lit(cfg.target_length))
    )
    keys = [F.asc("dist_to_target"), *[F.desc(c) for c in quality_cols], F.asc(id_col)]
    w = Window.orderBy(*keys) if partition_by is None else Window.partitionBy(
        partition_by
    ).orderBy(*keys)
    return d.withColumn("rank", F.row_number().over(w))


def classify(
    assignments: DataFrame,   # (id, component)
    edges: DataFrame,         # (id_a, id_b, jaccard[, transitive]) verified edges
    stats: DataFrame,         # (id, n_chars, ...) member metadata for ranking
    cfg: DedupConfig,
    quality_cols: tuple[str, ...] = (),
) -> DataFrame:
    """-> classifications(id, component, classification, decision_category,
          rank, dist_to_target, cluster_size, rep_id, reason).

    Optional ``transitive`` edge column: True marks star edges (rep, member)
    from a TRANSITIVE-equality tier (exact hash dedup emits m-1 spanning
    edges for an m-clique — operators/exact.py). Hash equality is an
    equivalence relation, so a star over {rep, m1..mk} PROVES all C(m,2)
    pairwise similarities are 1.0; the pair-completeness gate below must
    count those implied pairs or an all-identical cluster larger than
    clade_size lands in TrueCoinfection (everything kept — silent dedup
    failure). Substring's jaccard=1.0 span edges are NOT transitive and
    must not set the flag."""
    members = assignments.join(stats, "id", "inner")

    # --- per-component pair stats (edges live within components by construction)
    ecomp = edges.join(
        assignments.select(F.col("id").alias("id_a"), "component"), "id_a"
    )
    if "transitive" in edges.columns:
        # Exact pair accounting in the presence of transitive star edges:
        #   n_pairs = sum over exact clusters of C(m,2)   (implied, all 1.0)
        #           + count of verified pairs whose endpoints lie in
        #             DIFFERENT exact clusters (rep(a) != rep(b), rep
        #             defaulting to self) — counting a within-cluster
        #             verified pair (e.g. the same pair also surfaced by
        #             minhash) twice would let `n_pairs >= C(n,2)` pass on
        #             a component with genuinely unverified pairs.
        # min_jaccard is unaffected: every implied pair is 1.0.
        #
        # shared: the transitive path reads ecomp from FOUR subtrees (half,
        # rep_map, implied, cross_cluster) and rep_map from two (ra, rb)
        ecomp = lineage.share(ecomp)
        trans = ecomp.where(F.col("transitive"))
        # STAR-SHAPE GUARD: the accounting below assumes each member has at
        # most ONE rep (exact.py emits star edges rep->member). classify()
        # is public — a caller passing non-star transitive edges (a member
        # under two reps, or all-pairs edges) would multiply rows through
        # the ra/rb left joins and silently inflate n_pairs. Deduping to
        # min(_rep) per member makes malformed input degrade predictably
        # (cross-cluster counting still sound, implied count conservative)
        # instead of corrupting the completeness gate.
        rep_map = lineage.share(
            trans.select(
                F.col("id_b").alias("_member"), F.col("id_a").alias("_rep")
            )
            .groupBy("_member")
            .agg(F.min("_rep").alias("_rep"))
        )
        # per-rep star degree -> cluster size m = degree + 1 -> C(m,2)
        implied = (
            trans.groupBy("component", "id_a")
            .agg(F.count("*").alias("_deg"))
            .withColumn("_m", F.col("_deg") + F.lit(1))
            .groupBy("component")
            .agg(
                F.sum(F.col("_m") * (F.col("_m") - 1) / 2).alias("_implied")
            )
        )
        ra = rep_map.select(
            F.col("_member").alias("id_a"), F.col("_rep").alias("_rep_a")
        )
        rb = rep_map.select(
            F.col("_member").alias("id_b"), F.col("_rep").alias("_rep_b")
        )
        cross_cluster = (
            ecomp.join(ra, "id_a", "left")
            .join(rb, "id_b", "left")
            .where(
                F.coalesce("_rep_a", F.col("id_a"))
                != F.coalesce("_rep_b", F.col("id_b"))
            )
        )
        comp_pairs = (
            implied.join(
                cross_cluster.groupBy("component").agg(
                    F.count("*").alias("_n_verified")
                ),
                "component",
                "full",
            )
            .withColumn(
                "n_pairs",
                F.coalesce("_n_verified", F.lit(0))
                + F.coalesce("_implied", F.lit(0.0)),
            )
            .select("component", "n_pairs")
        )
    else:
        comp_pairs = None  # default path: pair count folds into the window pass

    # --- per-member mean distance to other members (outlier score)
    # explode, not union-of-selects: the union referenced ecomp (an
    # edges-to-assignments join) from two subtrees, executing that join —
    # and its exchanges — twice; one explode emits both endpoint rows in a
    # single pass over one join
    half = ecomp.select(
        "component",
        "jaccard",
        F.explode(F.array("id_a", "id_b")).alias("id"),
    ).select("component", "id", "jaccard")
    evolution_threshold = (1.0 - cfg.strong_threshold) / cfg.z_threshold

    # TWO exchanges for the whole member-grain flow, both load-bearing.
    # Member rows and per-member score rows are UNIONED (not joined) and
    # merged by a (component, id) aggregation that reuses one repartition
    # by component: max over a <=2-row group per column reproduces the old
    # members-left-join-scores row set exactly (the member marker keeps
    # only ids that exist in `members`, edge rows for unknown ids drop as
    # the old left join did, and edge-less members keep null score columns
    # like the old join misses). The merge aggregation accepts the subset
    # partitioning (hashpartitioning(component) clusters its
    # (component, id) keys), and every window below declares
    # partitionBy(component), so the rank window and every component
    # statistic (pair count, min jaccard, exact median/MAD, cluster size,
    # outliers, representative) all reuse that same exchange. The r5
    # formulation shuffled score rows by (component, id), re-shuffled both
    # sides by id to join, and re-shuffled the result by component for the
    # remaining windows (5+ exchanges) — and a (component, id) JOIN cannot
    # reuse a component-only partitioning under Spark 4's all-cluster-keys
    # co-partitioning requirement
    # (spark.sql.requireAllClusterKeysForCoPartition), which is why the
    # merge is an aggregation, not a join (guide §2.4: operations keyed
    # the same way share one exchange).
    # The endpoint rows are pre-aggregated FIRST (guide §2.3 — aggregate
    # before you shuffle: the (component, id) groupBy partial-aggregates
    # map-side, so the exchange carries one row per member-with-edges, not
    # one per edge endpoint — at 10x expansion that is ~600k rows instead
    # of ~60M); the merge union then shuffles only member-grain rows.
    scores = half.groupBy("component", "id").agg(
        (1.0 - F.avg("jaccard")).alias("mean_dist"),
        F.count("*").alias("_cnt"),
        F.min("jaccard").alias("_mj"),
    )
    mcols = [c for c in members.columns if c not in ("id", "component")]
    mtypes = {f.name: f.dataType for f in members.schema.fields}
    scols = {"mean_dist": "double", "_cnt": "long", "_mj": "double"}
    m_side = members.select(
        "component",
        "id",
        *[F.lit(None).cast(t).alias(c) for c, t in scols.items()],
        F.lit(1).alias("_is_member"),
        *mcols,
    )
    s_side = scores.select(
        "component",
        "id",
        *scols,
        F.lit(0).alias("_is_member"),
        *[F.lit(None).cast(mtypes[c]).alias(c) for c in mcols],
    )
    m = (
        m_side.unionByName(s_side)
        .repartition("component")
        .groupBy("component", "id")
        .agg(
            F.max("_is_member").alias("_im"),
            # each column is non-null on exactly one side of the <=2-row
            # group, so max() is "the value"; an edge-less member's group
            # has only its member row, leaving the score columns null —
            # identically the old left-join miss
            *[F.max(c).alias(c) for c in (*scols, *mcols)],
        )
        .where(F.col("_im") == 1)
        .drop("_im")
    )
    m = rank_members(m, cfg, quality_cols=quality_cols)

    wc = Window.partitionBy("component")
    if comp_pairs is None:
        m = m.withColumn("n_pairs", F.sum("_cnt").over(wc) / 2)
    else:
        # left join: members of edge-less (singleton) components keep
        # n_pairs null — identically the old scores-left-join miss
        m = m.join(comp_pairs, "component", "left")
    m = m.withColumn("min_jaccard", F.min("_mj").over(wc)).withColumn(
        "med", F.median("mean_dist").over(wc)
    )
    m = m.withColumn(
        "mad", F.median(F.abs(F.col("mean_dist") - F.col("med"))).over(wc)
    )
    m = m.withColumn(
        "cutoff",
        F.when(F.col("mad") == 0.0, F.col("med") + F.lit(evolution_threshold))
        .otherwise(F.col("med") + F.lit(cfg.z_threshold) * F.col("mad")),
    )
    m = m.withColumn("cluster_size", F.count("*").over(wc))
    m = m.withColumn(
        "is_outlier",
        F.when(F.col("cutoff").isNotNull(), F.col("mean_dist") > F.col("cutoff"))
        .otherwise(F.lit(False)),
    )
    m = m.withColumn("n_outliers", F.sum(F.col("is_outlier").cast("int")).over(wc))
    # all-outlier fallback: treat everyone as eligible (sequence_grouping.py:297-300)
    m = m.withColumn(
        "eligible",
        (~F.col("is_outlier")) | (F.col("n_outliers") == F.col("cluster_size")),
    )
    # best eligible member per component = min rank among eligible
    m = m.withColumn(
        "best_rank",
        F.min(F.when(F.col("eligible"), F.col("rank"))).over(wc),
    )
    m = m.withColumn("is_best", F.col("rank") == F.col("best_rank"))
    m = m.withColumn(
        "rep_id", F.min(F.when(F.col("is_best"), F.col("id"))).over(wc)
    )

    # BelowThreshold (reference case 2) requires ALL C(n,2) pairwise
    # distances below threshold (sequence_grouping.py:227, :51-53) — not
    # just the pairs that happened to be LSH-verified. A transitive chain
    # A~B~C whose A–C pair never verified must fall through to the
    # clade/outlier branches, exactly like the reference.
    complete = F.col("n_pairs") == (
        F.col("cluster_size") * (F.col("cluster_size") - 1) / 2
    )
    category = (
        F.when(F.col("cluster_size") == 1, F.lit("SingleSequence"))
        .when(
            complete & (F.col("min_jaccard") >= F.lit(cfg.strong_threshold)),
            F.lit("BelowThreshold"),
        )
        .when(F.col("cluster_size") <= F.lit(cfg.clade_size), F.lit("SmallClade"))
        .when(F.col("n_outliers") > 0, F.lit("OutliersDetected"))
        .otherwise(F.lit("TrueCoinfection"))
    )
    m = m.withColumn("decision_category", category)

    classification = (
        F.when(F.col("decision_category") == "SingleSequence", F.lit(GOOD))
        .when(F.col("decision_category") == "TrueCoinfection", F.lit(COINFECTION))
        .when(
            (F.col("decision_category") == "OutliersDetected")
            & F.col("is_outlier")
            & F.lit(cfg.detach_outliers),
            F.lit(GOOD),  # web mode: detached, kept as its own document
        )
        .when(F.col("is_best"), F.lit(GOOD))
        .otherwise(F.lit(BAD))
    )
    m = m.withColumn("classification", classification)

    reason = F.concat(
        F.col("decision_category"),
        F.lit(": size="),
        F.col("cluster_size").cast("string"),
        F.coalesce(
            F.concat(F.lit(", min_jaccard="), F.round("min_jaccard", 4).cast("string")),
            F.lit(""),
        ),
    )
    return m.select(
        "id",
        "component",
        "classification",
        "decision_category",
        "rank",
        "dist_to_target",
        "cluster_size",
        "rep_id",
        reason.alias("reason"),
    )
