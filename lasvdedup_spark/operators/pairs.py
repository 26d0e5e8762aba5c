"""Generic skew-proof key joins, written once.

Every tier that turns key collisions into candidate pairs — LSH band
buckets (minhash), token L-grams (substring), simhash bands, hyperplane
buckets (ann), IVF inverted lists, the streaming band index — shares the
same scale hazard: a boilerplate key with m members puts m^2/2 pair
enumerations in one task. The fix is the north rule's salted join, and it
lives in one kernel, ``_salted_join(hot, other, ...)``:

  1. census (``_census``) on the HOT side — the side whose key groups can
     grow without bound — yields ``big``, the over-cutoff key list;
  2. split: broadcast left_anti / left_semi probes against ``big`` route
     small keys to a plain equi-join and hot keys to the salted one;
  3. salt: hot-side rows keep ONE salt pmod(xxhash64(id), S), other-side
     rows replicate to every salt, so joining on (key, salt) produces each
     pair exactly once while spreading a hot key's pair space over S tasks;
  4. result: plain UNION salted, with an optional row predicate.

The self join (``salted_pair_join``) is the case ``hot is other`` with the
predicate a.id < b.id; ``salted_cross_join`` passes its unbounded ``right``
side as hot; ``capped_by_key`` reuses the census and split alone. The
``salt_buckets <= 1`` plain join is also written once, in the kernel.

Lazy by construction: no action runs at plan-composition time (the round-1
version ran an isEmpty() census to route around the salt machinery; that
executed the whole upstream subtree just to build a plan and made the
operator illegal on streaming DataFrames). Instead the plan is always
  plain(small keys, via left_anti)  UNION  salted(big keys, via left_semi)
and when no key exceeds the cutoff the salted side is simply empty at
runtime — the empty case costs one map-side-combinable size census and
broadcast probes, not a driver-side branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lasvdedup_spark import lineage


def _census(df: DataFrame, key_col: str, cutoff: int) -> tuple[DataFrame, DataFrame]:
    """-> (``df`` shared, ``big`` = keys with more than ``cutoff`` rows,
    shared on its own).

    ``df`` is read by the census, both probes and both join ends; ``big``
    by every broadcast probe — unshared, the census aggregation ran once
    per probe (4 Exchange census subtrees in the r06 before-plans)."""
    df = lineage.share(df)
    sizes = df.groupBy(key_col).agg(F.count("*").alias("_ksz"))
    big = lineage.share(sizes.where(F.col("_ksz") > cutoff).select(key_col))
    return df, big


def _split(df: DataFrame, key_col: str, big: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (rows of small keys, rows of ``big`` keys), by broadcast probes."""
    return (
        df.join(F.broadcast(big), key_col, "left_anti"),
        df.join(F.broadcast(big), key_col, "left_semi"),
    )


def _salted_join(
    hot: DataFrame,
    other: DataFrame,
    key_col: str,
    salt_buckets: int,
    cutoff: int,
    cols: list[Column],
    where: Column | None = None,
) -> DataFrame:
    """Equi-join of ``hot`` and ``other`` on ``key_col`` with the hot
    side's over-``cutoff`` keys salted over ``salt_buckets`` tasks (module
    docstring), projected to ``cols`` over the aliases a / b.

    Alias and join orientation: a self join (``hot is other``) puts the
    hot, single-salt side on the left as ``a``; a cross join puts ``other``
    on the left as ``a``. Flipping the self case's salt orientation keeps
    the rows but measurably grows the downstream pair-dedup exchange."""
    self_join = hot is other

    def join(h: DataFrame, o: DataFrame, keys) -> DataFrame:
        a, b = (h, o) if self_join else (o, h)
        j = a.alias("a").join(b.alias("b"), keys)
        return (j if where is None else j.where(where)).select(*cols)

    if salt_buckets <= 1:
        return join(hot, other, key_col)
    hot, big = _census(hot, key_col, cutoff)
    other = hot if self_join else lineage.share(other)
    hot_small, hot_big = _split(hot, key_col, big)
    # a cross join's plain path keeps ALL other-side rows: a big-key row
    # there finds no partner in hot_small, so no anti probe is needed
    plain = join(hot_small, hot_small if self_join else other, key_col)
    other_big = hot_big if self_join else _split(other, key_col, big)[1]
    s = salt_buckets
    salted = join(
        hot_big.withColumn("_salt", F.pmod(F.xxhash64(F.col("id")), F.lit(s))),
        other_big.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))),
        [key_col, "_salt"],
    )
    return plain.unionByName(salted)


def salted_pair_join(
    keyed: DataFrame,
    key_col: str,
    salt_buckets: int,
    skew_cutoff: int,
    count_alias: str = "n_keys",
    carry: str | None = None,
    dedup: bool = True,
) -> DataFrame:
    """keyed(id, key) -> distinct unordered pairs (id_a < id_b, <count_alias>)
    where <count_alias> = number of distinct keys the pair collided on.

    The self case of the kernel: ``keyed`` is both the hot and the other
    side, checkpointed once with one census, and the a.id < b.id predicate
    is the upstream lasvdedup's i<j pair dedup
    (lasvdedup/utils/distance_matrix.py). Keys with more than
    ``skew_cutoff`` members take the salted path; each unordered pair is
    yielded once (from the orientation where the smaller id sits on the
    left). Dedup across keys via groupBy (map-side partial agg), never
    distinct() on the exploded rows. AQE skew-join stays on as a backstop
    for milder imbalance.

    carry: optional NARROW per-id payload column in ``keyed`` to ride
    through the join into the output as <carry>_a / <carry>_b. For a
    scalar payload (simhash's one int64) this deletes the two
    join-the-values-back-for-verify shuffles entirely; for wide payloads
    (minhash signatures, embedding vectors) do NOT carry — the payload
    would multiply through every (key, id) row of the shuffle, which is
    exactly what the candidates-then-verify shape avoids.

    dedup=False skips the pair groupBy — the one full exchange of the
    candidate set — and instead returns one row PER COLLIDING KEY with the
    key column included (named <key_col>; no <count_alias>). For callers
    whose carried payload lets them decide, per row, whether this key is
    the pair's canonical one (simhash: the first agreeing band is
    derivable from the two fingerprints), a map-side filter then yields
    each pair exactly once with NO shuffle at all.
    """
    fields = ["id"] + ([carry] if carry else [])
    # payload is functionally dependent on id, so grouping by it too keeps
    # the same (id_a, id_b) groups while letting it ride the aggregation
    group = [f"{c}_{s}" for c in fields for s in "ab"]
    cols = [F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in fields for s in "ab"]
    if not dedup:
        cols.append(F.col(f"a.{key_col}").alias(key_col))
    pairs = _salted_join(
        keyed, keyed, key_col, salt_buckets, skew_cutoff, cols,
        F.col("a.id") < F.col("b.id"),
    )
    if not dedup:
        return pairs
    return pairs.groupBy(*group).agg(F.count("*").alias(count_alias))


def salted_cross_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    salt_buckets: int,
    skew_cutoff: int,
    count_alias: str = "n_keys",
    out_left: str = "id_l",
    out_right: str = "id_r",
    dedup: bool = True,
) -> DataFrame:
    """Bipartite analog of salted_pair_join: every (left-id, right-id)
    collision on ``key_col``, with <count_alias> = number of distinct keys
    the pair collided on. Pass the UNBOUNDED side as ``right`` — it is the
    kernel's hot side, where the skew census runs (the streaming use:
    ``left`` = one micro-batch, bounded by trigger size; ``right`` = the
    accumulated band index, which grows without bound, so a boilerplate
    key's hot spot lives on that side). Each right row of a hot key keeps
    one salt and the (bounded) left side replicates to every salt. Same
    dedup discipline as salted_pair_join: groupBy on the pair (map-side
    combinable), never distinct() on the exploded rows.

    dedup=False skips the final pair groupBy (and the <count_alias>
    column): for callers where each (l, r) pair can only arise via ONE key
    by construction (IVF: every target lives in exactly one inverted
    list), the groupBy would be a full extra exchange of the candidate set
    that deduplicates nothing."""
    cols = [F.col("a.id").alias(out_left), F.col("b.id").alias(out_right)]
    pairs = _salted_join(right, left, key_col, salt_buckets, skew_cutoff, cols)
    if not dedup:
        return pairs
    return pairs.groupBy(out_left, out_right).agg(F.count("*").alias(count_alias))


def capped_by_key(keyed: DataFrame, key_col: str, cap: int | None) -> DataFrame:
    """Cap every key group to at most ``cap`` rows — deterministically and
    with NO single-partition sort. None = passthrough (exact).

    Keep rule: the ``cap`` rows with the smallest (xxhash64(id, key), id)
    per over-cap key. This replaces the earlier keep-lowest-ids
    row_number() window, which (a) sorted the entire mega-bucket — the very
    key the cap exists to mitigate — in ONE task, and (b) kept a
    lexicographic id prefix, i.e. a biased sample (ids are URLs: the lowest
    cap of a 100k-member boilerplate bucket are one domain). Hash-rank
    keeps a uniform deterministic sample and never materializes a
    total order:

      1. the kernel's census of over-cap keys (``_census``, cutoff = cap);
      2. under-cap keys pass through untouched (the ``_split`` anti probe);
      3. over-cap keys find their cap-th smallest (hash, id) via a
         two-level top-cap aggregation — each (key, salt) partial sorts
         ~m/S rows and keeps <= cap, the per-key merge sorts <= S*cap —
         and rows are kept by a broadcast threshold probe
         (struct(hash, id) <= threshold). Exactly ``cap`` rows survive per
         over-cap key ((hash, id) is unique per key since (id, key) rows
         are), so callers' dropped-row accounting is unchanged.

    Deterministic by construction: the kept set is a pure function of the
    (id, key) values — partitioning, task order, and salt fan-out never
    show through (every intermediate is array_sort-ed before slicing).
    """
    if cap is None:
        return keyed
    if cap < 1:
        # cap=0 would make every key over-cap with an EMPTY threshold set
        # (element_at on an empty slice raises under ANSI); it also means
        # "drop everything", which no caller can want silently
        raise ValueError(f"cap must be >= 1 or None, got {cap}")
    # salt fan-out for the threshold computation only; bounds the per-task
    # sort of a mega-bucket at m/S rows without changing the result
    thin_salts = 64
    keyed, big = _census(keyed, key_col, cap)
    small, big_rows = _split(keyed, key_col, big)
    big_rows = big_rows.withColumn(
        "_h", F.xxhash64(F.col("id"), F.col(key_col))
    ).withColumn("_salt", F.pmod(F.col("_h"), F.lit(thin_salts)))
    # explicit field names: struct <= struct comparison requires the two
    # struct types (incl. field names) to match exactly
    rank = F.struct(F.col("_h").alias("h"), F.col("id").alias("i"))
    partials = big_rows.groupBy(key_col, "_salt").agg(
        F.slice(F.array_sort(F.collect_list(rank)), 1, cap).alias("_top")
    )
    thresholds = partials.groupBy(key_col).agg(
        F.element_at(
            F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, cap), -1
        ).alias("_thr")
    )
    kept_big = (
        big_rows.join(F.broadcast(thresholds), key_col)
        .where(rank <= F.col("_thr"))
        .drop("_h", "_salt", "_thr")
    )
    return small.unionByName(kept_big.select(*small.columns))
