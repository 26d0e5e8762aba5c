"""Exact duplicate detection — the cheapest tier of the cascade.

The reference's early-exit ordering (cheap distance test before expensive
tree ops, /root/reference/lasvdedup/utils/sequence_grouping.py:209-254)
becomes staged filtering here: exact-hash dedup first, each later tier
(simhash, minhash/LSH, substring) only refines what remains.

Pure built-ins: content hash -> groupBy agg -> join back. The aggregate
shuffle on the content hash is the map-side-combinable kind (distinct
hashes << rows when duplication exists; AQE coalesces the tiny post-agg
partitions), and no single task ever holds a whole hash group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lasvdedup_spark import lineage


def with_content_hash(
    pages: DataFrame, text_col: str = "text", hash_family: str = "md5"
) -> DataFrame:
    """Content hash for the exact tier. md5 (default) is the DuckDB-oracle
    -portable family; production runs pass cfg.hash_family="xxhash64"
    because JDK MessageDigest serializes on the JCA provider lock — an
    md5-heavy map stage does not scale across executor threads within one
    JVM (measured flat ~20s at local[8] AND local[32]; BENCH.md). xxhash64
    is 64-bit, so it is composed with length(text) to push the collision
    odds for a false merge far below the 1e12-doc birthday bound."""
    col = F.col(text_col)
    if hash_family == "xxhash64":
        h = F.concat_ws(
            ":", F.hex(F.xxhash64(col)), F.length(col).cast("string")
        )
    else:
        h = F.md5(col)
    return pages.withColumn("content_hash", h)


def exact_dup_clusters(
    pages: DataFrame, id_col: str = "url", hash_family: str = "md5"
) -> DataFrame:
    """(id, content_hash, cluster_size, rep_id, is_duplicate).

    rep = min id per hash group: deterministic under any partitioning —
    the reference's tie rule is "first encountered" under a stable sort
    (io_utils.py:48-55); distributed engines have no input order, so the
    explicit id tiebreak is the order-isomorphic equivalent (SURVEY §7).
    """
    # (id, hash) feeds both the aggregate and the join-back side: shared,
    # the content hash over the full text is computed once
    h = lineage.share(
        with_content_hash(pages, hash_family=hash_family).select(id_col, "content_hash")
    )
    # groupBy + join back, NOT count/min over Window.partitionBy(hash): the
    # window shuffles every member of a mega-cluster of identical pages
    # into ONE task and sorts it there (Exchange + Sort + Window in the
    # plan). The aggregate is map-side combinable — each task pre-reduces
    # its local members to one (hash, count, min) row before the exchange —
    # so a 10^8-member boilerplate cluster costs one narrow row per map
    # task instead of one fat sorted task; the join back is a plain hash
    # join that AQE turns into a broadcast when the distinct-hash table is
    # small and splits when it is skewed (guide §2.3, §2.5).
    per_hash = h.groupBy("content_hash").agg(
        F.count("*").alias("cluster_size"), F.min(id_col).alias("rep_id")
    )
    return h.join(per_hash, "content_hash").select(
        id_col,
        "content_hash",
        "cluster_size",
        "rep_id",
        (F.col(id_col) != F.col("rep_id")).alias("is_duplicate"),
    )


def exact_dup_pairs(
    pages: DataFrame, id_col: str = "url", hash_family: str = "md5"
) -> DataFrame:
    """Star edges (rep_id, member) per exact-dup cluster, id_a < id_b.

    Deliberately NOT the all-pairs enumeration of the reference's
    get_distances (distance_matrix.py:35-43): connected components only
    need a spanning structure, and a web-scale boilerplate cluster of 100k
    identical pages would otherwise emit 5e9 edges inside one hash group.
    Star edges are O(m) per cluster and produce identical components
    (every member is linked to the cluster minimum). rep_id = min id, so
    id_a < id_b holds by construction."""
    c = exact_dup_clusters(pages, id_col, hash_family=hash_family)
    return c.where(F.col("is_duplicate")).select(
        F.col("rep_id").alias("id_a"), F.col(id_col).alias("id_b")
    )
