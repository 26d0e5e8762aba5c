"""Driver-contract queries + DuckDB oracle SQL.

Each ``QUERIES`` entry is a Spark implementation of an operator from
SURVEY.md §2; ``ORACLES`` holds the equivalent DuckDB SQL over the same
parquet tables (views: region nation customer supplier part orders lineitem
events documents embeddings).

Portability rules that make value-hash comparison exact:
  * hashing is the md5-hex-prefix family (functions/hashing.py) — verified
    bit-identical between engines;
  * minhash signature agreement is n/64 with 64 a power of two, so every
    jaccard, mean, median and MAD downstream is an exact binary fraction —
    cross-engine float equality is genuinely exact, not approximate;
  * integer outputs are cast to bigint on the Spark side (DuckDB aggregates
    return int64);
  * free-floating doubles (cosine scores) are rounded to 6 decimals and both
    engines compute the sums in textual left-to-right order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lasvdedup_spark import lineage
from lasvdedup_spark.config import MINHASH_PRIME, DedupConfig
from lasvdedup_spark.functions.hashing import (
    minhash_sig_expr,
    portable_hash60,
    sig_jaccard_expr,
)
from lasvdedup_spark.functions.text import shingles_expr, tokens_expr

# The shared shingle/signature config for all oracle-checked queries: pins
# the md5-prefix family (bit-identical in DuckDB). Production/bench paths
# use the DedupConfig default (xxhash64).
CFG = DedupConfig(hash_family="md5")

# ---------------------------------------------------------------------------
# DuckDB SQL fragments (mirror of functions/hashing.py + functions/text.py)
# ---------------------------------------------------------------------------

_TOKS = "string_split(lower(trim(text)), ' ')"


def _dk_h60(e: str) -> str:
    return f"('0x' || substr(md5({e}),1,15))::BIGINT"


def _dk_h28(e: str) -> str:
    return f"('0x' || substr(md5({e}),1,7))::BIGINT"


def _dk_shingles(k: int) -> str:
    return (
        f"list_distinct([array_to_string(toks[i+1:i+{k}], ' ') "
        f"for i in range(greatest(len(toks)-{k},0)+1)])"
    )


def _dk_perms() -> str:
    return "[" + ",".join(f"[{a},{b}]" for a, b in CFG.permutations) + "]"


def _dk_sig() -> str:
    return (
        f"[list_min([(p[1] * {_dk_h28('s')} + p[2]) % {MINHASH_PRIME} "
        f"for s in shingles]) for p in {_dk_perms()}]"
    )


_DK_SIG_CTE = f"""
tok as (select doc_id, {_TOKS} as toks from documents),
shing as (select doc_id, {_dk_shingles(CFG.shingle_k)} as shingles from tok),
sig as (select doc_id, {_dk_sig()} as sig from shing)
"""

_DK_BANDS_CTE = _DK_SIG_CTE + f""",
bands as (
  select doc_id,
         unnest([{_dk_h60(f"cast(i as varchar) || ':' || array_to_string(sig[i*{CFG.lsh_rows}+1:i*{CFG.lsh_rows}+{CFG.lsh_rows}], ',')")}
                 for i in range({CFG.lsh_bands})]) as bucket
  from sig)
"""

_DK_SIGJ = (
    f"list_sum([(sa.sig[i+1] = sb.sig[i+1])::INT for i in range({CFG.num_perms})])"
    f" / {float(CFG.num_perms)}"
)

def _dk_pairs_cte(threshold: float) -> str:
    """Candidate+verified pairs CTE at an arbitrary verification threshold
    (the lang-thresholds query verifies at the FLOOR of all per-language
    thresholds, not at the global one)."""
    return _DK_BANDS_CTE + f""",
cand as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_bands
  from bands a join bands b using (bucket)
  where a.doc_id < b.doc_id
  group by 1, 2),
scored as (
  select c.id_a, c.id_b, {_DK_SIGJ} as jaccard
  from cand c
  join sig sa on sa.doc_id = c.id_a
  join sig sb on sb.doc_id = c.id_b),
verified as (select * from scored where jaccard >= {threshold})
"""


_DK_PAIRS_CTE = _dk_pairs_cte(CFG.jaccard_threshold)


# ---------------------------------------------------------------------------
# Spark-side shared builders
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.minhash import signatures

    return signatures(_docs(spark, sf_dir), CFG, id_col="doc_id")


def _doc_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.minhash import (
        band_buckets,
        candidate_pairs,
        verified_pairs,
    )

    sigs = _doc_sigs(spark, sf_dir)
    return verified_pairs(candidate_pairs(band_buckets(sigs, CFG), CFG), sigs, CFG)


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.exact import exact_dup_clusters

    return exact_dup_clusters(_docs(spark, sf_dir), id_col="doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "content_hash",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("rep_id").cast("long").alias("rep_id"),
        "is_duplicate",
    )


O_EXACT_DUP_CLUSTERS = """
select doc_id,
       md5(text) as content_hash,
       count(*) over (partition by md5(text)) as cluster_size,
       min(doc_id) over (partition by md5(text)) as rep_id,
       doc_id != min(doc_id) over (partition by md5(text)) as is_duplicate
from documents
"""


def q_exact_dup_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-tier spanning edges (rep -> member): O(m) per cluster, the
    scale-safe replacement for all-pairs enumeration inside a hash group
    (same connected components)."""
    from lasvdedup_spark.operators.exact import exact_dup_pairs

    return exact_dup_pairs(_docs(spark, sf_dir), id_col="doc_id").select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


O_EXACT_DUP_STAR_EDGES = """
with c as (
  select doc_id, min(doc_id) over (partition by md5(text)) as rep
  from documents)
select rep as id_a, doc_id as id_b from c where doc_id != rep
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokens_expr("text"))).cast("long").alias("n_distinct_tokens"),
    )


O_TOKEN_COUNTS = f"""
select doc_id,
       len({_TOKS}) as n_tokens,
       len(list_distinct({_TOKS})) as n_distinct_tokens
from documents
"""


_BPE_PAT = "[a-z0-9]+|[^a-z0-9\\s]"  # word runs + isolated punctuation marks


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-style token counting: a BPE-ish regex (alnum runs +
    standalone punctuation) rather than whitespace splitting — the second
    tokenizer of the brief's text-analysis family. Pure JVM regex; the
    oracle applies the identical class-based pattern."""
    d = _docs(spark, sf_dir)
    # function form, not an SQL string: Spark SQL string literals consume
    # the backslash of \s, silently changing the pattern
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), F.lit(0))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe_tokens"),
    )


O_BPE_TOKEN_COUNTS = f"""
with t as (select doc_id,
                  regexp_extract_all(lower(text), '{_BPE_PAT}') as toks
           from documents)
select doc_id, len(toks) as n_bpe_tokens,
       len(list_distinct(toks)) as n_distinct_bpe_tokens
from t
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality features: token stats + type/token ratio + mean token
    length + stopword ratio — the 'quality scoring' family of a training-data
    pipeline, all JVM-side."""
    stop = "array('the','a','of','and','to','in','is','it')"
    d = _docs(spark, sf_dir).withColumn("toks", tokens_expr("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("len_chars"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct("toks")) / F.size("toks"), 6).alias("type_token_ratio"),
        F.round(
            F.expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))") / F.size("toks"), 6
        ).alias("mean_token_len"),
        F.round(
            F.expr(f"size(filter(toks, t -> array_contains({stop}, t)))") / F.size("toks"), 6
        ).alias("stopword_ratio"),
    )


O_QUALITY_SCORES = f"""
with t as (select doc_id, text, {_TOKS} as toks from documents)
select doc_id,
       length(text) as len_chars,
       len(toks) as n_tokens,
       round(len(list_distinct(toks)) / len(toks), 6) as type_token_ratio,
       round(list_sum([length(x) for x in toks]) / len(toks), 6) as mean_token_len,
       round(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it'], t))) / len(toks), 6) as stopword_ratio
from t
"""


def q_rank_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference sort_table parity (io_utils.py:48-55): global multi-key
    rank — dist-to-target ASC, quality DESC, stable id tiebreak."""
    d = _docs(spark, sf_dir).withColumn(
        "dist_to_target", F.abs(F.col("n_chars") - F.lit(CFG.target_length))
    )
    w = Window.orderBy(F.asc("dist_to_target"), F.desc("n_chars"), F.asc("doc_id"))
    return d.select(
        "doc_id",
        F.col("dist_to_target").cast("long").alias("dist_to_target"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


O_RANK_TABLE = f"""
select doc_id,
       abs(n_chars - {CFG.target_length}) as dist_to_target,
       row_number() over (order by abs(n_chars - {CFG.target_length}) asc,
                          n_chars desc, doc_id asc) as rank
from documents
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sig serialized to a canonical CSV string: the driver's canonicalizer
    # sort_values-hashes every cell, and pandas cannot factorize list cells
    # (CORRECTNESS_r01 err) — the values are unchanged, only the encoding.
    return _doc_sigs(spark, sf_dir).select(
        F.col("id").alias("doc_id"),
        F.expr("array_join(transform(sig, x -> cast(x as string)), ',')").alias(
            "sig_csv"
        ),
    )


O_MINHASH_SIGNATURES = f"""
with {_DK_SIG_CTE}
select doc_id, array_to_string(sig, ',') as sig_csv from sig
"""


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.minhash import band_buckets, candidate_pairs

    sigs = _doc_sigs(spark, sf_dir)
    return candidate_pairs(band_buckets(sigs, CFG), CFG).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_bands").cast("long").alias("n_bands"),
    )


O_LSH_CANDIDATE_PAIRS = f"""
with {_DK_BANDS_CTE}
select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_bands
from bands a join bands b using (bucket)
where a.doc_id < b.doc_id
group by 1, 2
"""


def q_dup_pairs_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_verified_pairs(spark, sf_dir).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


O_DUP_PAIRS_VERIFIED = f"""
with {_DK_PAIRS_CTE}
select id_a, id_b, jaccard from verified
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-linkage duplicate clusters = connected components over
    verified edges (sequence_grouping.py:89-118 semantics)."""
    from lasvdedup_spark.operators.components import assign_components

    docs = _docs(spark, sf_dir)
    edges = _doc_verified_pairs(spark, sf_dir).select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    return assign_components(docs, edges, id_col="doc_id").select(
        F.col("id").alias("doc_id"), "component"
    )


O_DUP_CLUSTERS = f"""
with recursive {_DK_PAIRS_CTE},
e as (select cast(id_a as varchar) a, cast(id_b as varchar) b from verified),
und as (select a as u, b as v from e union select b, a from e),
nodes as (select distinct cast(doc_id as varchar) as id from documents),
reach(id, lbl) as (
  select id, id from nodes
  union
  select u.v, r.lbl from reach r join und u on u.u = r.id
)
select id as doc_id, min(lbl) as component from reach group by id
"""


def q_classifications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 5-case classification cascade (sequence_grouping.py:185-353)
    end-to-end: verified edges -> connected components -> rank ->
    pair-completeness / robust-stat outliers -> category + representative.
    This is the heart of SURVEY §2.8c, oracle-checked against an independent
    SQL engine for every branch (reason string excluded: it embeds a rounded
    float whose tie-rounding is engine-specific; all decision inputs are
    checked via the other columns)."""
    from lasvdedup_spark.operators.classify import classify
    from lasvdedup_spark.operators.components import assign_components

    docs = _docs(spark, sf_dir)
    edges = _doc_verified_pairs(spark, sf_dir).select(
        F.col("id_a").cast("string").alias("id_a"),
        F.col("id_b").cast("string").alias("id_b"),
        "jaccard",
    )
    assignments = assign_components(
        docs,
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    stats = docs.select(F.col("doc_id").cast("string").alias("id"), "n_chars")
    out = classify(assignments, edges, stats, CFG)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "classification",
        "decision_category",
        F.col("rank").cast("long").alias("rank"),
        F.col("dist_to_target").cast("long").alias("dist_to_target"),
        "cluster_size",
        F.col("rep_id").cast("long").alias("rep_id"),
    )


def _o_classifications_sql() -> str:
    # component ids / ranks / rep selection operate on STRING ids (the
    # engine's id space is urls; doc_ids are stringified the same way), so
    # every min/order-by below is over varchar, mirroring the Spark side.
    evo = (1.0 - CFG.strong_threshold) / CFG.z_threshold
    return f"""
with recursive {_DK_PAIRS_CTE},
e as (select cast(id_a as varchar) as a, cast(id_b as varchar) as b, jaccard from verified),
und as (select a as u, b as v from e union select b, a from e),
nodes as (select distinct cast(doc_id as varchar) as id from documents),
reach(id, lbl) as (
  select id, id from nodes
  union
  select u.v, r.lbl from reach r join und u on u.u = r.id
),
comp as (select id, min(lbl) as component from reach group by id),
stats as (select cast(doc_id as varchar) as id, n_chars from documents),
members as (
  select c.id, c.component, s.n_chars,
         abs(s.n_chars - {CFG.target_length}) as dist_to_target
  from comp c join stats s using (id)),
ranked as (
  select *, row_number() over (partition by component
            order by dist_to_target asc, id asc) as rank
  from members),
ecomp as (
  select c.component, e.a as id_a, e.b as id_b, e.jaccard
  from e join comp c on c.id = e.a),
comp_pairs as (
  select component, min(jaccard) as min_jaccard, count(*) as n_pairs
  from ecomp group by component),
half as (
  select component, id_a as id, jaccard from ecomp
  union all
  select component, id_b as id, jaccard from ecomp),
member_score as (
  select component, id, 1.0 - avg(jaccard) as mean_dist
  from half group by component, id),
med as (select component, median(mean_dist) as med from member_score group by component),
madt as (
  select ms.component, median(abs(ms.mean_dist - m.med)) as mad
  from member_score ms join med m using (component) group by ms.component),
robust as (
  select m.component,
         case when t.mad = 0 then m.med + {evo!r}
              else m.med + {CFG.z_threshold!r} * t.mad end as cutoff
  from med m join madt t using (component)),
m0 as (
  select r.id, r.component, r.dist_to_target, r.rank,
         ms.mean_dist, cp.min_jaccard, cp.n_pairs, rb.cutoff
  from ranked r
  left join member_score ms on ms.component = r.component and ms.id = r.id
  left join comp_pairs cp on cp.component = r.component
  left join robust rb on rb.component = r.component),
m1 as (
  select *, count(*) over (partition by component) as cluster_size,
         case when cutoff is not null then mean_dist > cutoff else false end as is_outlier
  from m0),
m2 as (
  select *, sum(case when is_outlier then 1 else 0 end)
            over (partition by component) as n_outliers
  from m1),
m3 as (select *, ((not is_outlier) or (n_outliers = cluster_size)) as eligible from m2),
m4 as (
  select *, min(case when eligible then rank end)
            over (partition by component) as best_rank
  from m3),
m5 as (select *, (rank = best_rank) as is_best from m4),
m6 as (
  select *, min(case when is_best then id end)
            over (partition by component) as rep_id
  from m5),
m7 as (
  select *,
    case when cluster_size = 1 then 'SingleSequence'
         when n_pairs = cluster_size * (cluster_size - 1) / 2
              and min_jaccard >= {CFG.strong_threshold!r} then 'BelowThreshold'
         when cluster_size <= {CFG.clade_size} then 'SmallClade'
         when n_outliers > 0 then 'OutliersDetected'
         else 'TrueCoinfection' end as decision_category
  from m6),
m8 as (
  select *,
    case when decision_category = 'SingleSequence' then 'good'
         when decision_category = 'TrueCoinfection' then 'coinfection'
         when is_best then 'good'
         else 'bad' end as classification
  from m7)
select cast(id as bigint) as doc_id, cast(component as bigint) as component,
       classification, decision_category, rank, dist_to_target, cluster_size,
       cast(rep_id as bigint) as rep_id
from m8
"""


def q_exact_tier_classifications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cascade fed by the EXACT tier's transitive star edges (m-1 per
    m-clique). Pins the round-3 completeness fix: hash equality is
    transitive, so classify counts the implied C(m,2) pairs and every
    multi-doc identical cluster lands in BelowThreshold (one rep kept) —
    never TrueCoinfection (the round-2 silent-failure mode). The DuckDB
    twin derives the same verdicts from first principles: components ==
    md5 groups, all pairwise similarities within a group are 1.0."""
    from lasvdedup_spark.operators.classify import classify
    from lasvdedup_spark.operators.components import assign_components
    from lasvdedup_spark.operators.exact import exact_dup_pairs

    docs = _docs(spark, sf_dir)
    edges = exact_dup_pairs(docs, id_col="doc_id").select(
        F.col("id_a").cast("string").alias("id_a"),
        F.col("id_b").cast("string").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
        F.lit(True).alias("transitive"),
    )
    assignments = assign_components(
        docs,
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
        assume_distinct=True,
    )
    stats = docs.select(F.col("doc_id").cast("string").alias("id"), "n_chars")
    out = classify(assignments, edges, stats, CFG)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "classification",
        "decision_category",
        F.col("rank").cast("long").alias("rank"),
        F.col("dist_to_target").cast("long").alias("dist_to_target"),
        "cluster_size",
        F.col("rep_id").cast("long").alias("rep_id"),
    )


# Exact-tier ground truth needs no graph iteration: a component IS an
# md5 group, every within-group pair is at similarity 1.0, so m>1 groups
# are pairwise-complete (BelowThreshold: rank-1 member good, rest bad)
# and singletons are SingleSequence. Ranks/reps compare over VARCHAR ids
# like the engine's url id space; identical text => identical n_chars =>
# rank order reduces to id order within a group.
O_EXACT_TIER_CLASSIFICATIONS = f"""
with comp0 as (
  select cast(doc_id as varchar) as id, n_chars,
         min(cast(doc_id as varchar)) over (partition by md5(text)) as component,
         count(*) over (partition by md5(text)) as cluster_size
  from documents),
ranked as (
  select *, abs(n_chars - {CFG.target_length}) as dist_to_target,
         row_number() over (partition by component
            order by abs(n_chars - {CFG.target_length}) asc, id asc) as rank
  from comp0),
final as (
  select *,
    min(case when rank = 1 then id end) over (partition by component) as rep_id,
    case when cluster_size = 1 then 'SingleSequence'
         else 'BelowThreshold' end as decision_category,
    case when cluster_size = 1 then 'good'
         when rank = 1 then 'good' else 'bad' end as classification
  from ranked)
select cast(id as bigint) as doc_id, cast(component as bigint) as component,
       classification, decision_category, rank, dist_to_target, cluster_size,
       cast(rep_id as bigint) as rep_id
from final
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min 60-bit hash over the doc's
    token L-grams (winnowing min-sample, L = substring_min_tokens)."""
    from lasvdedup_spark.functions.text import lgrams_expr

    L = CFG.substring_min_tokens
    return (
        _docs(spark, sf_dir)
        .withColumn("tokens", tokens_expr("text"))
        .withColumn("lgrams", lgrams_expr(L))
        .select(
            "doc_id",
            F.expr(
                "array_min(transform(lgrams, g -> cast(conv(substr(md5(g),1,15),16,10) as bigint)))"
            ).alias("fingerprint"),
        )
    )


O_DOC_FINGERPRINTS = f"""
with t as (select doc_id, {_TOKS} as toks from documents),
g as (select doc_id, {_dk_shingles(CFG.substring_min_tokens).replace('toks', 'toks')} as lgrams from t)
select doc_id, list_min([{_dk_h60('x')} for x in lgrams]) as fingerprint from g
"""


def q_substring_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.substring import substring_dup_pairs

    return substring_dup_pairs(_docs(spark, sf_dir), CFG, id_col="doc_id").select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
    )


O_SUBSTRING_CANDIDATE_PAIRS = f"""
with t as (select doc_id, {_TOKS} as toks from documents),
g as (select doc_id, unnest([{_dk_h60('x')} for x in {_dk_shingles(CFG.substring_min_tokens)}]) as gh from t)
select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_shared_grams
from g a join g b using (gh)
where a.doc_id < b.doc_id
group by 1, 2
"""


def q_substring_span_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact longest-common-token-span per substring-candidate pair — the
    engine's only UDTF-shaped kernel (applyInPandas rolling-hash LCS),
    oracle-checked against a brute-force all-substrings SQL join."""
    from lasvdedup_spark.operators.substring import span_lengths, substring_dup_pairs

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    pairs = substring_dup_pairs(docs, CFG, id_col="doc_id")
    return span_lengths(docs, pairs, id_col="doc_id").select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("span_len").cast("long").alias("span_len"),
    )


O_SUBSTRING_SPAN_LENGTHS = f"""
with t as (select cast(doc_id as varchar) as vid, {_TOKS} as toks from documents),
g as (select vid, unnest([{_dk_h60('x')} for x in {_dk_shingles(CFG.substring_min_tokens)}]) as gh from t),
pairs as (
  -- ids pair/order as VARCHAR, mirroring the engine's string id space
  select a.vid as id_a, b.vid as id_b
  from g a join g b using (gh)
  where a.vid < b.vid
  group by 1, 2),
subs as (
  select t.vid, ls.l,
         array_to_string(t.toks[ss.s+1:ss.s+ls.l], ' ') as sub
  from t,
  lateral (select unnest(range(1, len(t.toks)+1)) as l) ls,
  lateral (select unnest(range(0, len(t.toks)-ls.l+1)) as s) ss)
select cast(p.id_a as bigint) as id_a, cast(p.id_b as bigint) as id_b,
       max(sa.l) as span_len
from pairs p
join subs sa on sa.vid = p.id_a
join subs sb on sb.vid = p.id_b and sb.sub = sa.sub and sb.l = sa.l
group by p.id_a, p.id_b
"""


def q_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by-key with collected member list — the reference's
    sample_to_seqs map (sequence_grouping.py:13-49) as a DataFrame agg."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            # CSV-serialized member list (driver canon can't hash list cells)
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)), "
                "x -> cast(x as string)), ',')"
            ).alias("doc_ids_csv"),
        )
    )


O_GROUP_COLLECT = """
select lang, count(*) as n_docs,
       string_agg(doc_id::VARCHAR, ',' order by doc_id) as doc_ids_csv
from documents group by lang
"""


def q_all_below_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universal-quantifier aggregate parity (all(d <= t),
    sequence_grouping.py:51-53): per source, is every doc <= 400 chars."""
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.expr("bool_and(n_chars <= 400)").alias("all_below"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


O_ALL_BELOW_THRESHOLD = """
select source, bool_and(n_chars <= 400) as all_below, max(n_chars) as max_chars
from documents group by source
"""


def q_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + MAD per group (distance_matrix.py:45-72 robust stats;
    exactness matters — reference uses numpy median, so percentile_approx
    would be wrong)."""
    d = _docs(spark, sf_dir)
    med = d.groupBy("lang").agg(F.median("n_chars").alias("med"))
    return (
        d.join(med, "lang")
        .groupBy("lang")
        .agg(
            F.first("med").alias("median_chars"),
            F.median(F.abs(F.col("n_chars") - F.col("med"))).alias("mad_chars"),
        )
        .select("lang", F.round("median_chars", 6).alias("median_chars"),
                F.round("mad_chars", 6).alias("mad_chars"))
    )


O_MEDIAN_MAD = """
with med as (select lang, median(n_chars) as med from documents group by lang)
select d.lang,
       round(any_value(m.med), 6) as median_chars,
       round(median(abs(d.n_chars - m.med)), 6) as mad_chars
from documents d join med m on d.lang = m.lang
group by d.lang
"""


def q_argmin_rank_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min-by-rank representative per group (min_by semantics,
    sequence_grouping.py:80-87): per source, the doc closest to target
    length, ties -> higher n_chars, then lower doc_id."""
    d = _docs(spark, sf_dir).withColumn(
        "dist", F.abs(F.col("n_chars") - F.lit(CFG.target_length))
    )
    w = Window.partitionBy("source").orderBy(
        F.asc("dist"), F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("doc_id").alias("rep_doc_id"),
                F.col("dist").cast("long").alias("rep_dist"))
    )


O_ARGMIN_RANK_REPRESENTATIVE = f"""
select source, doc_id as rep_doc_id, abs(n_chars - {CFG.target_length}) as rep_dist
from documents
qualify row_number() over (partition by source
        order by abs(n_chars - {CFG.target_length}) asc, n_chars desc, doc_id asc) = 1
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the web analog of the reference's
    name-normalization chain (strip _R_, split at first dot, prefix match;
    sequence_grouping.py:63-78): lowercase scheme+host, drop the fragment,
    drop utm_* query params, strip a trailing slash and a dangling '?'.
    Pure regexp_replace/extract chains, identical patterns on both engines;
    messy variants are synthesized deterministically per doc_id."""
    d = _docs(spark, sf_dir)
    junk = F.expr(
        "element_at(array('?utm_source=feed&x=1#frag', '#section-2', "
        "'/', '?utm_campaign=a&utm_medium=b'), cast(pmod(doc_id, 4) as int) + 1)"
    )
    raw = F.concat(
        F.lit("HTTPS://WWW."), F.upper("source"), F.lit(".Example.COM/Doc/"),
        F.col("doc_id").cast("string"), junk,
    )
    d = d.select("doc_id", raw.alias("raw_url"))
    scheme = F.lower(F.regexp_extract("raw_url", r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract("raw_url", r"^[A-Za-z]+://([^/]+)", 1))
    path = F.regexp_extract("raw_url", r"^[A-Za-z]+://[^/]+(.*)$", 1)
    path = F.regexp_replace(path, r"#.*$", "")               # fragment
    path = F.regexp_replace(path, r"utm_[a-z]+=[^&]*&?", "")  # utm params
    path = F.regexp_replace(path, r"[?&]$", "")              # dangling ?/&
    path = F.regexp_replace(path, r"/$", "")                 # trailing slash
    return d.select(
        "doc_id",
        "raw_url",
        F.concat(scheme, F.lit("://"), host, path).alias("url_norm"),
    )


O_URL_NORMALIZE = """
with b as (
  select doc_id,
         'HTTPS://WWW.' || upper(source) || '.Example.COM/Doc/' || doc_id ||
         ['?utm_source=feed&x=1#frag', '#section-2', '/',
          '?utm_campaign=a&utm_medium=b'][(doc_id % 4)::INT + 1] as raw_url
  from documents),
n as (
  select doc_id, raw_url,
         lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1)) as scheme,
         lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/]+)', 1)) as host,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_extract(raw_url, '^[A-Za-z]+://[^/]+(.*)$', 1),
                 '#.*$', ''),
               'utm_[a-z]+=[^&]*&?', '', 'g'),
             '[?&]$', ''),
           '/$', '') as path
  from b)
select doc_id, raw_url, scheme || '://' || host || path as url_norm
from n
"""


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extract + grouping-key parity (sequence_grouping.py:26-40)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_extract("source", r"src(\d+)", 1).cast("long").alias("src_num"),
    )


O_REGEX_EXTRACT = r"""
select doc_id, cast(regexp_extract(source, 'src(\d+)', 1) as bigint) as src_num
from documents
"""


def q_left_join_misses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + null-side accounting (io_utils.py:135-144: look up each
    classified doc, warn+skip on miss): docs joined to embeddings by id."""
    d = _docs(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("has_vec")
    )
    return (
        d.join(e, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("has_vec").isNull(), 1).otherwise(0)).cast("long").alias("n_missing"),
        )
    )


O_LEFT_JOIN_MISSES = """
select d.lang, count(*) as n_docs,
       sum(case when e.vec_id is null then 1 else 0 end)::BIGINT as n_missing
from documents d left join embeddings e on d.doc_id = e.vec_id
group by d.lang
"""


def q_broadcast_stats_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup join vs a small aggregated dimension — explicitly broadcast
    (the reference's dict-lookup join, sequence_grouping.py:55-78)."""
    d = _docs(spark, sf_dir)
    stats = d.groupBy("source").agg(F.avg("n_chars").alias("src_avg"))
    return (
        d.join(F.broadcast(stats), "source")
        .select(
            "doc_id",
            F.round(F.col("src_avg"), 6).alias("src_avg_chars"),
            (F.col("n_chars") > F.col("src_avg")).alias("above_avg"),
        )
    )


O_BROADCAST_STATS_JOIN = """
with s as (select source, avg(n_chars) as src_avg from documents group by source)
select d.doc_id, round(s.src_avg, 6) as src_avg_chars, d.n_chars > s.src_avg as above_avg
from documents d join s using (source)
"""


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.simhash import simhash

    return simhash(_docs(spark, sf_dir), id_col="doc_id").select(
        F.col("id").alias("doc_id"), "simhash"
    )


def _o_simhash_cte() -> str:
    from lasvdedup_spark.operators.simhash import SIMHASH_BITS

    bit_sums = ", ".join(
        f"sum(case when (h >> {j}) & 1 = 1 then w else -w end) as b{j}"
        for j in range(SIMHASH_BITS)
    )
    reassemble = " + ".join(
        f"(case when b{j} > 0 then {1 << j} else 0 end)" for j in range(SIMHASH_BITS)
    )
    return f"""
tok as (
  select doc_id, t.token, count(*) as w
  from (select doc_id, unnest({_TOKS}) as token from documents) t(doc_id, token)
  group by 1, 2),
hashed as (select doc_id, {_dk_h60('token')} as h, w from tok),
bits as (select doc_id, {bit_sums} from hashed group by doc_id),
sh as (select doc_id, ({reassemble})::BIGINT as simhash from bits)
"""


def O_SIMHASH_SIGNATURES() -> str:
    return f"with {_o_simhash_cte()} select doc_id, simhash from sh"


def q_simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.simhash import simhash_dup_pairs

    return simhash_dup_pairs(_docs(spark, sf_dir), CFG, id_col="doc_id").select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def O_SIMHASH_DUP_PAIRS() -> str:
    # oracle is brute-force all-pairs; the engine's 4-band pigeonhole join is
    # guaranteed-equal for hamming <= 3 (operators/simhash.py)
    return f"""
with {_o_simhash_cte()}
select a.doc_id as id_a, b.doc_id as id_b,
       bit_count(xor(a.simhash, b.simhash)) as hamming
from sh a join sh b on a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= {CFG.simhash_hamming}
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language heuristic (training-data-pipeline op): the
    decision logic is the deliverable; identical lexicons on both sides."""
    markers = "array('the','a','of','and','is')"
    d = _docs(spark, sf_dir).withColumn("toks", tokens_expr("text"))
    ratio = F.expr(f"size(filter(toks, t -> array_contains({markers}, t)))") / F.size("toks")
    return d.select(
        "doc_id",
        F.round(ratio, 6).alias("marker_ratio"),
        F.when(ratio >= 0.02, F.lit("en")).otherwise(F.lit("unknown")).alias("predicted_lang"),
    )


O_LANG_ID = f"""
with t as (select doc_id, {_TOKS} as toks from documents),
r as (select doc_id,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) / len(toks) as ratio
      from t)
select doc_id, round(ratio, 6) as marker_ratio,
       case when ratio >= 0.02 then 'en' else 'unknown' end as predicted_lang
from r
"""


# --- embeddings / similarity search ---

_N_PLANES = 6
_N_TABLES = 2   # multi-table banding: candidate iff colliding in ANY table
_EMB_DIM = 64
_KNN_K = 5
_N_QUERIES = 8


def _planes() -> list[list[int]]:
    from lasvdedup_spark.operators.ann import plane_signs

    return plane_signs(_N_PLANES, _EMB_DIM)


def _tables() -> list[list[list[int]]]:
    from lasvdedup_spark.operators.ann import plane_tables

    return plane_tables(_N_TABLES, _N_PLANES, _EMB_DIM)


def _dk_bucket_expr(planes: list[list[int]], offset: int) -> str:
    """DuckDB twin of hyperplane_bucket_expr + the multi-table offset."""
    terms = []
    for p, row in enumerate(planes):
        dot = " + ".join(
            f"({s}) * embedding[{d + 1}]::DOUBLE" for d, s in enumerate(row)
        )
        terms.append(f"(case when ({dot}) > 0 then {1 << p} else 0 end)")
    return f"({' + '.join(terms)} + {offset})::BIGINT"


def _dk_multi_buckets_cte() -> str:
    """b(id, vec, bucket) — one row per (vector, banding table)."""
    selects = [
        f"select vec_id as id, embedding as vec, "
        f"{_dk_bucket_expr(planes, t * (1 << _N_PLANES))} as bucket from embeddings"
        for t, planes in enumerate(_tables())
    ]
    return " union all ".join(selects)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.ann import knn_bruteforce

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    t = e.where(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("tid"), F.col("embedding").alias("tvec")
    )
    return knn_bruteforce(q, t, _KNN_K)


def _dk_dot(a: str, b: str) -> str:
    return " + ".join(
        f"{a}[{i + 1}]::DOUBLE * {b}[{i + 1}]::DOUBLE" for i in range(_EMB_DIM)
    )


def O_KNN_BRUTEFORCE() -> str:
    return f"""
with q as (select vec_id as qid, embedding as qvec from embeddings where vec_id < {_N_QUERIES}),
t as (select vec_id as tid, embedding as tvec from embeddings where vec_id >= {_N_QUERIES}),
scored as (
  select qid, tid,
         ({_dk_dot('qvec', 'tvec')}) /
         (sqrt({_dk_dot('qvec', 'qvec')}) * sqrt({_dk_dot('tvec', 'tvec')})) as score
  from q cross join t)
select qid, tid,
       row_number() over (partition by qid order by score desc, tid asc) as pos,
       round(score, 6) as score
from scored
qualify pos <= {_KNN_K}
"""


def q_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.ann import ann_buckets

    return ann_buckets(_emb(spark, sf_dir), _planes()).select(
        F.col("id").alias("vec_id"), "bucket"
    )


def O_ANN_BUCKETS() -> str:
    planes = _planes()
    terms = []
    for p, row in enumerate(planes):
        dot = " + ".join(
            f"({s}) * embedding[{d + 1}]::DOUBLE" for d, s in enumerate(row)
        )
        terms.append(f"(case when ({dot}) > 0 then {1 << p} else 0 end)")
    return f"select vec_id, ({' + '.join(terms)})::BIGINT as bucket from embeddings"


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k over multi-table hyperplane banding (candidate iff
    colliding in ANY of the B tables — the scale path: no fixed 2^P bucket
    count capping selectivity)."""
    from lasvdedup_spark.operators.ann import ann_lsh_topk

    return ann_lsh_topk(_emb(spark, sf_dir), _tables(), k=3).select(
        F.col("qid"), F.col("tid"), "pos", "score"
    )


def O_ANN_LSH_TOPK() -> str:
    return f"""
with b as ({_dk_multi_buckets_cte()}),
cand as (
  select a.id as qid, t.id as tid,
         any_value(a.vec) as qvec, any_value(t.vec) as tvec
  from b a join b t using (bucket)
  where a.id != t.id
  group by a.id, t.id),
scored as (
  select qid, tid,
         ({_dk_dot('qvec', 'tvec')}) /
         (sqrt({_dk_dot('qvec', 'qvec')}) * sqrt({_dk_dot('tvec', 'tvec')})) as score
  from cand)
select qid, tid,
       row_number() over (partition by qid order by score desc, tid asc) as pos,
       round(score, 6) as score
from scored
qualify pos <= 3
"""


_IVF_K = 32      # centroids (seeded: lowest vec_ids)
_IVF_PROBE = 2   # lists probed per query


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k: inverted centroid lists + n_probe
    search — the second ANN index family next to hyperplane LSH. Centroids
    derive deterministically from the data (lowest ids), so the oracle
    rebuilds the identical index in SQL."""
    from lasvdedup_spark.operators.ann import ivf_topk

    return ivf_topk(_emb(spark, sf_dir), _IVF_K, k=3, n_probe=_IVF_PROBE)


def O_IVF_TOPK() -> str:
    return f"""
with c as (
  select vec_id as cid, embedding as cvec from embeddings
  order by vec_id limit {_IVF_K}),
a as (
  select e.vec_id as id, c.cid,
         ({_dk_dot('e.embedding', 'cvec')}) /
         (sqrt({_dk_dot('e.embedding', 'e.embedding')}) * sqrt({_dk_dot('cvec', 'cvec')})) as score
  from embeddings e cross join c),
idx as (
  select id as tid, cid from a
  qualify row_number() over (partition by id order by score desc, cid asc) = 1),
probes as (
  select id as qid, cid from a
  qualify row_number() over (partition by id order by score desc, cid asc) <= {_IVF_PROBE}),
cand as (
  select p.qid, i.tid from probes p join idx i using (cid)
  where p.qid != i.tid),
scored as (
  select cand.qid, cand.tid,
         ({_dk_dot('q.embedding', 't.embedding')}) /
         (sqrt({_dk_dot('q.embedding', 'q.embedding')}) * sqrt({_dk_dot('t.embedding', 't.embedding')})) as score
  from cand
  join embeddings q on q.vec_id = cand.qid
  join embeddings t on t.vec_id = cand.tid)
select qid, tid,
       row_number() over (partition by qid order by score desc, tid asc) as pos,
       round(score, 6) as score
from scored
qualify pos <= 3
"""


def q_ivf_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat top-k with ONE deterministic Lloyd training round — the
    production ANN path (operators/ann.ivf_lloyd_centroids). The
    bit-determinism claim (fixed-point int64 mean: values scaled by 2^30,
    summed as longs — integer addition is associative, so shuffle layout
    can't change the result) is what makes this oracle-checkable at all:
    DuckDB replicates the identical integer arithmetic, so the trained
    centroids — and every downstream assignment, probe, and score — match
    byte-for-byte."""
    from lasvdedup_spark.operators.ann import ivf_topk

    return ivf_topk(
        _emb(spark, sf_dir), _IVF_K, k=3, n_probe=_IVF_PROBE, lloyd_iters=1
    )


def O_IVF_LLOYD_TOPK() -> str:
    # 2^30 fixed-point scale — must mirror ann.ivf_lloyd_centroids exactly
    s = float(1 << 30)
    return f"""
with c0 as (
  select vec_id as cid, embedding as cvec from embeddings
  order by vec_id limit {_IVF_K}),
a0 as (
  select e.vec_id as id, c0.cid, e.embedding as vec,
         ({_dk_dot('e.embedding', 'cvec')}) /
         (sqrt({_dk_dot('e.embedding', 'e.embedding')}) * sqrt({_dk_dot('cvec', 'cvec')})) as score
  from embeddings e cross join c0
  qualify row_number() over (partition by e.vec_id order by score desc, cid asc) = 1),
expl as (
  select cid, unnest(vec) as val,
         unnest(range(1, len(vec) + 1)) as pos
  from a0),
means as (
  select cid, pos,
         cast(sum(cast(round(val::DOUBLE * {s}) as bigint)) as double)
           / count(*) / {s} as m
  from expl group by cid, pos),
c1 as (
  -- emptied centroid keeps its seed position (Spark: coalesce(new, old));
  -- list() over an unmatched left join yields [NULL], so branch on count
  select c0.cid,
         case when count(means.m) = 0
              then list_transform(c0.cvec, x -> x::DOUBLE)
              else list(means.m order by means.pos) end as cvec
  from c0 left join means on means.cid = c0.cid
  group by c0.cid, c0.cvec),
a as (
  select e.vec_id as id, c1.cid,
         ({_dk_dot('e.embedding', 'cvec')}) /
         (sqrt({_dk_dot('e.embedding', 'e.embedding')}) * sqrt({_dk_dot('cvec', 'cvec')})) as score
  from embeddings e cross join c1),
idx as (
  select id as tid, cid from a
  qualify row_number() over (partition by id order by score desc, cid asc) = 1),
probes as (
  select id as qid, cid from a
  qualify row_number() over (partition by id order by score desc, cid asc) <= {_IVF_PROBE}),
cand as (
  select p.qid, i.tid from probes p join idx i using (cid)
  where p.qid != i.tid),
scored as (
  select cand.qid, cand.tid,
         ({_dk_dot('q.embedding', 't.embedding')}) /
         (sqrt({_dk_dot('q.embedding', 'q.embedding')}) * sqrt({_dk_dot('t.embedding', 't.embedding')})) as score
  from cand
  join embeddings q on q.vec_id = cand.qid
  join embeddings t on t.vec_id = cand.tid)
select qid, tid,
       row_number() over (partition by qid order by score desc, tid asc) as pos,
       round(score, 6) as score
from scored
qualify pos <= 3
"""


def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (multi-table banded candidates,
    salted bucket join, cosine >= t); the vector analog of
    dup_pairs_verified."""
    from lasvdedup_spark.operators.ann import cosine_dup_pairs

    return cosine_dup_pairs(_emb(spark, sf_dir), _tables(), threshold=0.3).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


def O_EMBEDDING_COSINE_PAIRS() -> str:
    return f"""
with b as ({_dk_multi_buckets_cte()}),
cand as (
  select a.id as id_a, t.id as id_b,
         any_value(a.vec) as va, any_value(t.vec) as vb
  from b a join b t using (bucket)
  where a.id < t.id
  group by a.id, t.id),
scored as (
  select id_a, id_b,
         ({_dk_dot('va', 'vb')}) /
         (sqrt({_dk_dot('va', 'va')}) * sqrt({_dk_dot('vb', 'vb')})) as cosine
  from cand)
select id_a, id_b, round(cosine, 6) as cosine
from scored where cosine >= 0.3
"""


def q_ngram_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (shingle-set) Jaccard over LSH candidate pairs — the
    'n-gram Jaccard dedup' tier: candidates come from MinHash banding, but
    the verdict uses TRUE set Jaccard on the shingles, not the signature
    estimate (array_intersect built-ins, no UDF)."""
    from lasvdedup_spark.operators.minhash import band_buckets, candidate_pairs

    docs = _docs(spark, sf_dir)
    sh = (
        docs.withColumn("tokens", tokens_expr("text"))
        .select("doc_id", shingles_expr(CFG.shingle_k).alias("sh"))
    )
    cand = candidate_pairs(band_buckets(_doc_sigs(spark, sf_dir), CFG), CFG)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("j", inter / union)
        .where(F.col("j") >= F.lit(CFG.jaccard_threshold))
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round("j", 6).alias("jaccard_exact"),
        )
    )


O_NGRAM_JACCARD_VERIFIED = f"""
with {_DK_BANDS_CTE},
cand as (
  select a.doc_id as id_a, b.doc_id as id_b
  from bands a join bands b using (bucket)
  where a.doc_id < b.doc_id
  group by 1, 2),
j0 as (
  select c.id_a, c.id_b,
         len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))::DOUBLE as inter,
         len(sa.shingles)::DOUBLE as la, len(sb.shingles)::DOUBLE as lb
  from cand c
  join shing sa on sa.doc_id = c.id_a
  join shing sb on sb.doc_id = c.id_b)
select id_a, id_b, round(inter / (la + lb - inter), 6) as jaccard_exact
from j0 where inter / (la + lb - inter) >= {CFG.jaccard_threshold}
"""


def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup over LSH candidates: c_a = |A∩B|/|A|,
    c_b = |A∩B|/|B|, keep pairs where either >= strong_threshold. Catches
    subset duplication (a doc quoted wholesale inside a longer one) that
    symmetric Jaccard under-scores (operators/minhash.containment_pairs)."""
    from lasvdedup_spark.operators.minhash import (
        band_buckets,
        candidate_pairs,
        containment_pairs,
    )

    docs = _docs(spark, sf_dir)
    sh = (
        docs.withColumn("tokens", tokens_expr("text"))
        .select("doc_id", shingles_expr(CFG.shingle_k).alias("sh"))
    )
    cand = candidate_pairs(band_buckets(_doc_sigs(spark, sf_dir), CFG), CFG)
    return containment_pairs(
        cand, sh, CFG.strong_threshold, id_col="doc_id"
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "containment_a",
        "containment_b",
    )


O_NGRAM_CONTAINMENT_PAIRS = f"""
with {_DK_BANDS_CTE},
cand as (
  select a.doc_id as id_a, b.doc_id as id_b
  from bands a join bands b using (bucket)
  where a.doc_id < b.doc_id
  group by 1, 2),
c0 as (
  select c.id_a, c.id_b,
         len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))::DOUBLE as inter,
         len(sa.shingles)::DOUBLE as la, len(sb.shingles)::DOUBLE as lb
  from cand c
  join shing sa on sa.doc_id = c.id_a
  join shing sb on sb.doc_id = c.id_b
  where len(sa.shingles) > 0 and len(sb.shingles) > 0)
select id_a, id_b,
       round(inter / la, 6) as containment_a,
       round(inter / lb, 6) as containment_b
from c0 where greatest(inter / la, inter / lb) >= {CFG.strong_threshold}
"""


_MAGICS = "'<htm','PNG0','RIFF','FTYP'"
_CTYPES = {
    "<htm": "text/html",
    "PNG0": "image/png",
    "RIFF": "audio/wav",
    "FTYP": "video/mp4",
}


def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata + magic-byte content sniffing (multimodal
    column plumbing, operators/multimodal.py): a deterministic blob per doc
    (magic prefix by doc_id mod 4 + payload), JVM-side sniff."""
    from lasvdedup_spark.operators.multimodal import binary_meta

    magic = F.expr(
        f"element_at(array({_MAGICS}), cast(pmod(doc_id, 4) as int) + 1)"
    )
    d = _docs(spark, sf_dir).withColumn(
        "blob", F.encode(F.concat(magic, F.col("text")), "UTF-8")
    )
    return binary_meta(d, bin_col="blob", id_col="doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bytes",
        "head_hex",
        "content_type",
    )


O_BINARY_META = f"""
with b as (
  select doc_id,
         [{_MAGICS}][(doc_id % 4)::INT + 1] as magic,
         text
  from documents)
select doc_id,
       octet_length(encode(magic || text)) as n_bytes,
       hex(substr(magic || text, 1, 4)::BLOB) as head_hex,
       case magic {' '.join(f"when '{m}' then '{t}'" for m, t in _CTYPES.items())}
            else 'application/octet-stream' end as content_type
from b
"""


def q_decode_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas media-decode plumbing end-to-end: Arrow binary
    batches into the Python worker, typed narrow metadata out. The decode
    itself is the declared deterministic stub (md5-derived dims/features —
    no codecs in this container), which is exactly what makes the WHOLE
    path oracle-checkable: the SQL twin recomputes the same features from
    the same bytes."""
    from lasvdedup_spark.operators.multimodal import decode_media

    magic = F.expr(
        f"element_at(array({_MAGICS}), cast(pmod(doc_id, 4) as int) + 1)"
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode(F.concat(magic, F.col("text")), "UTF-8").alias("blob"),
    )
    out = decode_media(d, bin_col="blob", id_col="doc_id")
    return out.select(
        F.col("url").cast("long").alias("doc_id"),  # decode emits id as 'url'
        "content_type",
        "n_bytes",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "feature0",
        "feature1",
    )


O_DECODE_MEDIA = f"""
with b as (
  select doc_id,
         [{_MAGICS}][(doc_id % 4)::INT + 1] as magic,
         text
  from documents),
h as (
  select doc_id, magic,
         octet_length(encode(magic || text)) as n_bytes,
         md5(magic || text) as hx
  from b)
select doc_id,
       case magic {' '.join(f"when '{m}' then '{t}'" for m, t in _CTYPES.items())}
            else 'application/octet-stream' end as content_type,
       n_bytes,
       16 + ('0x' || substr(hx, 1, 2))::BIGINT % 240 as width,
       16 + ('0x' || substr(hx, 3, 2))::BIGINT % 240 as height,
       round(('0x' || substr(hx, 5, 8))::BIGINT / 4294967296.0, 9) as feature0,
       round(('0x' || substr(hx, 13, 8))::BIGINT / 4294967296.0, 9) as feature1
from h
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Per-language threshold refinement (reference segment-specific THRESHOLDS,
# config_setup.py:154-184): verify candidates at the FLOOR of all thresholds
# (0.375 here — BELOW the global 0.5, so lower-threshold languages gain
# pairs the global verify would have dropped), then keep an edge iff its
# jaccard clears the threshold of BOTH endpoints' languages (greatest),
# unlisted languages using the global threshold. Thresholds are exact binary
# fractions so the filter boundary is bit-identical across engines.
_LANG_THR = {"de": 0.375, "zh": 0.75}


def q_lang_threshold_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lasvdedup_spark.operators.minhash import (
        band_buckets,
        candidate_pairs,
        verified_pairs,
    )
    from lasvdedup_spark.pipeline import refine_edges_by_lang

    cfg = CFG.with_overrides(lang_thresholds=_LANG_THR)
    floor = min(cfg.jaccard_threshold, *cfg.lang_thresholds.values())
    sigs = _doc_sigs(spark, sf_dir)
    at_floor = verified_pairs(
        candidate_pairs(band_buckets(sigs, CFG), CFG),
        sigs,
        CFG.with_overrides(jaccard_threshold=floor),
    )
    refined = refine_edges_by_lang(
        at_floor, _docs(spark, sf_dir), cfg, id_col="doc_id"
    )
    return refined.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def _o_lang_threshold_edges_sql() -> str:
    floor = min(CFG.jaccard_threshold, *_LANG_THR.values())
    case = (
        "case lang "
        + " ".join(f"when '{k}' then {v}" for k, v in _LANG_THR.items())
        + f" else {CFG.jaccard_threshold} end"
    )
    return f"""
with {_dk_pairs_cte(floor)},
thr as (select doc_id, {case} as t from documents)
select v.id_a, v.id_b, v.jaccard
from verified v
join thr a on a.doc_id = v.id_a
join thr b on b.doc_id = v.id_b
where v.jaccard >= greatest(a.t, b.t)
"""


def q_streaming_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-batch incremental (streaming) dedup replay: the
    documents table is split by doc_id parity into two micro-batch files,
    run through the foreachBatch incremental pipeline (within-batch
    self-join + new-vs-index join against the persisted band index), and
    the FINAL accumulated pair set must equal the one-shot batch LSH
    verify — i.e. the dup_pairs_verified oracle. Pair content is
    batch-order independent (every colliding pair is found either within
    its batch or when the later doc meets the index), so the replay is
    fully deterministic. Ids ride through the stream as zero-padded
    strings (string order == numeric order) and cast back to long."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from lasvdedup_spark.streaming.incremental import (
        incremental_dedup_query,
        read_pairs,
    )

    tmp = _tempfile.mkdtemp(prefix="lasv_stream_oracle_")
    input_dir = _os.path.join(tmp, "in")
    work_dir = _os.path.join(tmp, "work")
    _os.makedirs(input_dir)
    docs = _docs(spark, sf_dir).select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("_half"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    for half in (0, 1):
        # one flat parquet FILE per micro-batch (the file stream source
        # lists flat files); stage a 1-file write, move the part file in
        stage = _os.path.join(tmp, f"stage{half}")
        docs.where(F.col("_half") == half).drop("_half").coalesce(1).write.parquet(stage)
        part = next(
            f for f in _os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        _os.rename(
            _os.path.join(stage, part),
            _os.path.join(input_dir, f"batch{half}.parquet"),
        )
    q = incremental_dedup_query(spark, input_dir, work_dir, CFG)
    q.awaitTermination(600)
    out = read_pairs(spark, work_dir).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )
    # pinned before deleting the backing files; the caller collects from
    # the cached blocks
    out = lineage.pin(out)
    _shutil.rmtree(tmp, ignore_errors=True)
    return out


O_STREAMING_INCREMENTAL_PAIRS = O_DUP_PAIRS_VERIFIED


QUERIES = {
    "exact_dup_clusters": q_exact_dup_clusters,
    "exact_dup_star_edges": q_exact_dup_star_edges,
    "token_counts": q_token_counts,
    "bpe_token_counts": q_bpe_token_counts,
    "quality_scores": q_quality_scores,
    "rank_table": q_rank_table,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidate_pairs": q_lsh_candidate_pairs,
    "dup_pairs_verified": q_dup_pairs_verified,
    "dup_clusters": q_dup_clusters,
    "classifications": q_classifications,
    "exact_tier_classifications": q_exact_tier_classifications,
    "doc_fingerprints": q_doc_fingerprints,
    "substring_candidate_pairs": q_substring_candidate_pairs,
    "substring_span_lengths": q_substring_span_lengths,
    "group_collect": q_group_collect,
    "all_below_threshold": q_all_below_threshold,
    "median_mad": q_median_mad,
    "argmin_rank_representative": q_argmin_rank_representative,
    "regex_extract": q_regex_extract,
    "url_normalize": q_url_normalize,
    "left_join_misses": q_left_join_misses,
    "broadcast_stats_join": q_broadcast_stats_join,
    "simhash_signatures": q_simhash_signatures,
    "simhash_dup_pairs": q_simhash_dup_pairs,
    "lang_id": q_lang_id,
    "lang_threshold_edges": q_lang_threshold_edges,
    "knn_bruteforce": q_knn_bruteforce,
    "ann_buckets": q_ann_buckets,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ivf_topk": q_ivf_topk,
    "ivf_lloyd_topk": q_ivf_lloyd_topk,
    "embedding_cosine_pairs": q_embedding_cosine_pairs,
    "ngram_jaccard_verified": q_ngram_jaccard_verified,
    "ngram_containment_pairs": q_ngram_containment_pairs,
    "binary_meta": q_binary_meta,
    "decode_media": q_decode_media,
    "streaming_incremental_pairs": q_streaming_incremental_pairs,
}

ORACLES = {
    "exact_dup_clusters": O_EXACT_DUP_CLUSTERS,
    "exact_dup_star_edges": O_EXACT_DUP_STAR_EDGES,
    "token_counts": O_TOKEN_COUNTS,
    "bpe_token_counts": O_BPE_TOKEN_COUNTS,
    "quality_scores": O_QUALITY_SCORES,
    "rank_table": O_RANK_TABLE,
    "minhash_signatures": O_MINHASH_SIGNATURES,
    "lsh_candidate_pairs": O_LSH_CANDIDATE_PAIRS,
    "dup_pairs_verified": O_DUP_PAIRS_VERIFIED,
    "dup_clusters": O_DUP_CLUSTERS,
    "classifications": _o_classifications_sql(),
    "exact_tier_classifications": O_EXACT_TIER_CLASSIFICATIONS,
    "doc_fingerprints": O_DOC_FINGERPRINTS,
    "substring_candidate_pairs": O_SUBSTRING_CANDIDATE_PAIRS,
    "substring_span_lengths": O_SUBSTRING_SPAN_LENGTHS,
    "group_collect": O_GROUP_COLLECT,
    "all_below_threshold": O_ALL_BELOW_THRESHOLD,
    "median_mad": O_MEDIAN_MAD,
    "argmin_rank_representative": O_ARGMIN_RANK_REPRESENTATIVE,
    "regex_extract": O_REGEX_EXTRACT,
    "url_normalize": O_URL_NORMALIZE,
    "left_join_misses": O_LEFT_JOIN_MISSES,
    "broadcast_stats_join": O_BROADCAST_STATS_JOIN,
    "simhash_signatures": O_SIMHASH_SIGNATURES(),
    "simhash_dup_pairs": O_SIMHASH_DUP_PAIRS(),
    "lang_id": O_LANG_ID,
    "lang_threshold_edges": _o_lang_threshold_edges_sql(),
    "knn_bruteforce": O_KNN_BRUTEFORCE(),
    "ann_buckets": O_ANN_BUCKETS(),
    "ann_lsh_topk": O_ANN_LSH_TOPK(),
    "ivf_topk": O_IVF_TOPK(),
    "ivf_lloyd_topk": O_IVF_LLOYD_TOPK(),
    "embedding_cosine_pairs": O_EMBEDDING_COSINE_PAIRS(),
    "ngram_jaccard_verified": O_NGRAM_JACCARD_VERIFIED,
    "ngram_containment_pairs": O_NGRAM_CONTAINMENT_PAIRS,
    "binary_meta": O_BINARY_META,
    "decode_media": O_DECODE_MEDIA,
    "streaming_incremental_pairs": O_STREAMING_INCREMENTAL_PAIRS,
}
