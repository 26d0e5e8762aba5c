"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed gives
byte-identical documents, boilerplate pages, embeddings and micro-batch
files. The library only ever sees the generated parquet files (read back
through Spark), never this module's random state.

Inputs per workload:

* ``documents.parquet`` in the shape the library's source expects
  (doc_id, text, lang, source, n_chars); ``sources.pages.synth_pages_with_dups``
  turns it into pages plus a ground-truth table of injected duplicates.
* boilerplate ("mega-template") pages for the crawl: random bodies that all
  carry the same two 4-token chunks. The chunks are picked from seeded
  candidates so that their shingles hold the minimum of the two MinHash
  permutations of LSH band 0, which puts every boilerplate page into one
  band-0 bucket: one hot key above the skew cutoff, without turning the
  pages into near-duplicates of each other.
* ``embeddings.parquet`` (vec_id = doc_id, embedding) with planted
  near-duplicate vectors, for the embedding tier.
* a seeded split of pages into micro-batches, for the stream drain in the
  crawl's traced run.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 400 pseudo-words: wide enough that unrelated pages share almost no
# 4-token shingle, small enough that the text looks like repeated prose
_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "te", "vi", "zo", "pe",
        "du", "fa", "gi", "ho", "ja", "ku", "le", "mo", "ni", "po")
VOCAB = np.array([a + b for a in _SYL for b in _SYL])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.42, 0.15, 0.15, 0.14, 0.14])
N_SOURCES = 8
N_CANDIDATES = 20000   # seeded header/footer chunk candidates (band0_chunks)
DUP_EVERY = 10         # every DUP_EVERY-th embedding is a near-copy of the one before
PAGE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Base documents: 60-120 tokens each, mostly English. Every document
    clears the 60-token floor ``synth_pages_with_dups`` sets for near-dup
    injection, so which documents get duplicates (a hash of doc_id) and
    hence the page count are the same for every seed."""
    text = _texts(rng, n_docs, 60, 120)
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": text,
        "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in doc_id],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def page_url(source: str, doc_id: int) -> str:
    """The url ``sources.pages`` derives for a document."""
    return f"https://{source}.example.com/doc/{doc_id}"


def pages_table(urls: list[str], texts: list[str], langs) -> pa.Table:
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.arange(len(urls)) * 1_000_000
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    return pa.table(
        [urls, pa.array(ts, pa.timestamp("us", tz="UTC")), html, texts, list(langs)],
        schema=PAGE_SCHEMA,
    )


def band0_chunks(spark, rng: np.random.Generator, cfg, path: str):
    """Two 4-token chunks whose shingles hold the smallest value of MinHash
    permutation 0 (first chunk) and permutation 1 (second chunk) among
    N_CANDIDATES seeded candidates. Band 0 of a page is exactly those
    two permutations, so every page that carries both chunks lands in one
    band-0 bucket unless one of its own ~100 shingles beats a
    1-in-N_CANDIDATES minimum. The candidates are written to ``path``.
    Uses the library's public ``signatures``
    so the choice follows whatever hash the library uses."""
    from lasvdedup_spark.operators.minhash import signatures

    k = cfg.shingle_k
    words = VOCAB[rng.integers(0, len(VOCAB), N_CANDIDATES * k)].reshape(-1, k)
    cands = [" ".join(w) for w in words]
    pq.write_table(pa.table({"url": np.arange(N_CANDIDATES), "text": cands}), path)
    sig = signatures(spark.read.parquet(path), cfg)
    # one pass: the minimum of permutation 0 and the two smallest of
    # permutation 1 (a candidate rarely holds both minima)
    row = sig.selectExpr(
        "min_by(id, sig[0]) AS first",
        "slice(array_sort(collect_list(struct(sig[1], id))), 1, 2) AS p1",
    ).first()
    first = row["first"]
    second = next(r["id"] for r in row["p1"] if r["id"] != first)
    return cands[first], cands[second]


def boilerplate_pages(rng: np.random.Generator, n_pages: int, chunks) -> pa.Table:
    """Mega-template pages: unrelated random bodies wrapped in the same
    header and footer chunk (one shared band-0 bucket, no shared content)."""
    head, foot = chunks
    bodies = _texts(rng, n_pages, 40, 100)
    texts = [f"{head} {b} {foot}" for b in bodies]
    urls = [f"https://boilerplate.example.com/page/{i}" for i in range(n_pages)]
    return pages_table(urls, texts, ["en"] * n_pages)


def embeddings(rng: np.random.Generator, docs: pa.Table, share: float,
               dim: int) -> tuple[pa.Table, list[tuple[str, str]]]:
    """Unit-scale random vectors for a seeded ``share`` of the documents;
    every DUP_EVERY-th vector is a small perturbation of the one before it
    (cosine ~0.99), so the embedding tier finds real pairs. vec_id = doc_id;
    the url column re-keys it to the page it belongs to. Also returns the
    planted (url, url) pairs: each joins two truth clusters."""
    ids = np.sort(rng.choice(docs.num_rows, int(docs.num_rows * share), replace=False))
    vec = rng.standard_normal((len(ids), dim)).astype(np.float32)
    twin = np.arange(DUP_EVERY - 1, len(ids), DUP_EVERY)
    vec[twin] = vec[twin - 1] + 0.05 * rng.standard_normal((len(twin), dim)).astype(np.float32)
    doc_id = docs.column("doc_id").to_numpy()[ids]
    source = docs.column("source").to_numpy(zero_copy_only=False)[ids]
    urls = [page_url(s, i) for s, i in zip(source, doc_id)]
    table = pa.table({
        "vec_id": doc_id,
        "url": urls,
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
    })
    return table, [(urls[t - 1], urls[t]) for t in twin]


def split_batches(rng: np.random.Generator, pages: pa.Table, n_batches: int) -> list[pa.Table]:
    """Seeded shuffle of the pages into ``n_batches`` tables, in arrival order."""
    order = rng.permutation(pages.num_rows)
    return [pages.take(part) for part in np.array_split(order, n_batches)]
