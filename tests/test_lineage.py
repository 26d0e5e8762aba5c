"""The lineage cuts (``lineage.share`` / ``lineage.pin``) change only how
often a subtree executes, never what a plan computes: ``dedup()`` must
classify identically with the shipped local checkpoints, with no cuts at
all, and with reliable checkpoints in their place."""

import pathlib

import numpy as np
import pytest

from lasvdedup_spark import lineage
from lasvdedup_spark.config import DedupConfig

DIM = 16
ALL_TIERS = ("exact", "minhash", "simhash", "substring", "embedding", "containment")
# a hot key in every keyed join: the boilerplate family below collides in
# far more than 3 band / hyperplane buckets' worth of members, so the
# salted path and the bucket cap both run
CFG = DedupConfig(
    salt_buckets=4,
    skew_bucket_cutoff=3,
    max_bucket_size=8,
    embedding_threshold=0.95,
    substring_min_tokens=16,
)


@pytest.fixture(scope="module")
def corpus(spark):
    """Planted duplicates for every tier plus a 12-page boilerplate family
    (shared 40-token body, one distinct tail token each) whose embeddings
    are near-identical too."""
    base = ("the quick brown fox jumps over the lazy dog and then naps "
            "under a warm afternoon sun while birds keep singing softly")
    near = ("a second distinct corpus paragraph walking through harbor "
            "streets at dawn carrying baskets of fresh bread and fruit "
            "toward the market square extra words")
    span = " ".join(f"shared{i}" for i in range(20))
    quoted = " ".join(f"quote{i}" for i in range(24))
    boiler = " ".join(f"boiler{i}" for i in range(40))
    rows = [
        ("e1", base), ("e2", base), ("e3", base),
        ("m1", near + " here"), ("m2", near + " there"),
        ("s1", f"alpha beta {span} gamma delta"),
        ("s2", f"omega psi {span} chi phi"),
        ("q1", quoted),
        ("q2", quoted + " " + " ".join(f"fill{i}" for i in range(60))),
        ("v1", "completely unrelated text about catalyst engines"),
        ("v2", "different words entirely concerning tungsten pipelines"),
        ("solo", "a singleton document sharing nothing with anything else"),
    ] + [(f"hot{i:02d}", f"{boiler} tail{i}") for i in range(12)]
    pages = spark.createDataFrame(rows, "url string, text string")

    rng = np.random.default_rng(7)
    vbase, hbase = rng.standard_normal(DIM), rng.standard_normal(DIM)

    def near_vec(v):
        noise = rng.standard_normal(DIM)
        return (v + noise * 0.01 * float(np.linalg.norm(v) / np.linalg.norm(noise))).tolist()

    emb_rows = []
    for url, _ in rows:
        if url in ("v1", "v2"):
            emb_rows.append((url, near_vec(vbase)))
        elif url.startswith("hot"):
            emb_rows.append((url, near_vec(hbase)))
        else:
            emb_rows.append((url, rng.standard_normal(DIM).tolist()))
    emb = spark.createDataFrame(emb_rows, "url string, embedding array<double>")
    return pages, emb


def _classify(spark, corpus, tiers):
    from lasvdedup_spark.pipeline import dedup

    pages, emb = corpus
    out = dedup(spark, pages, CFG, tiers=tiers, embeddings=emb)
    return sorted(tuple(r) for r in out.collect())


@pytest.fixture(scope="module")
def shipped(spark, corpus):
    """Classifications with the shipped cuts, per tier set (computed once)."""
    cache = {}

    def get(tiers):
        if tiers not in cache:
            cache[tiers] = _classify(spark, corpus, tiers)
        return cache[tiers]

    return get


# Each variant replaces the named cuts; between the two identity variants
# every site runs uncut once. Uncutting share AND pin in one run is not
# among them: the fully uncut plan re-references every upstream subtree
# through each join, census and CC round, and its analysis runs the driver
# out of heap — the cuts are what keep plans tractable.
VARIANTS = {
    "share_uncut": {"share": lambda df: df},
    "pin_uncut": {"pin": lambda df: df},
    "reliable": {
        "share": lambda df: df.checkpoint(eager=False),
        "pin": lambda df: df.checkpoint(eager=True),
    },
}


@pytest.mark.parametrize("variant", list(VARIANTS))
@pytest.mark.parametrize("tiers", [("exact", "minhash"), ALL_TIERS],
                         ids=["exact_minhash", "all_tiers"])
def test_cuts_do_not_change_classifications(
    spark, corpus, shipped, tiers, variant, tmp_path, monkeypatch
):
    expected = shipped(tiers)
    assert len(expected) == 24
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    calls = dict.fromkeys(VARIANTS[variant], 0)
    for name, cut in VARIANTS[variant].items():
        def counted(df, name=name, cut=cut):
            calls[name] += 1
            return cut(df)

        monkeypatch.setattr(lineage, name, counted)
    assert _classify(spark, corpus, tiers) == expected
    assert all(calls.values()), calls


def test_lineage_is_the_only_local_checkpoint_caller():
    """Every lineage cut in the library goes through lineage.py."""
    pkg = pathlib.Path(lineage.__file__).parent
    callers = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if p != pkg / "lineage.py" and "localCheckpoint" in p.read_text()
    )
    assert callers == []
