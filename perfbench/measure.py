"""Pure measurement helpers: percentiles, recall, digests, spans.

No Spark here, so every rule the benchmark reports by can be tested on
hand-built fixtures (see tests/test_measure.py).
"""

from __future__ import annotations

import hashlib
import statistics
from collections import Counter
from dataclasses import dataclass, field


def median(values) -> float:
    return float(statistics.median(values))


TAIL_BEYOND = 10


def tail_percentile(values) -> tuple[float, float] | None:
    """The highest percentile that still has at least TAIL_BEYOND samples
    above it, and its value (nearest rank on the sorted samples).

    With n samples, percentile p leaves n - ceil(p * n) samples above its
    nearest-rank value, so the highest qualifying rank is n - TAIL_BEYOND.
    Returns None when there are not more than TAIL_BEYOND samples: no
    percentile then has that many samples beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND               # 1-based nearest rank
    return 100.0 * rank / n, float(xs[rank - 1])


def pair_count(n: int) -> int:
    return n * (n - 1) // 2


def truth_recall(truth: dict[str, object], component: dict[str, object]) -> float:
    """Share of injected duplicate pairs whose two members share a component.

    truth: url -> injected cluster id (every url of a cluster of size >= 2
    forms a truth pair with every other one). component: url -> component
    id; a url missing from it is its own singleton. Counts pairs per
    (cluster, component) cell, so it is linear in the number of urls.
    """
    cluster_size = Counter(truth.values())
    cells = Counter(
        (cid, component.get(url, ("singleton", url)))
        for url, cid in truth.items()
        if cluster_size[cid] > 1
    )
    total = sum(pair_count(n) for n in cluster_size.values())
    if total == 0:
        raise ValueError("truth has no duplicate pairs")
    return sum(pair_count(n) for n in cells.values()) / total


def false_pairs(truth: dict[str, object], component: dict[str, object]) -> int:
    """Pairs of urls that share a component but no truth cluster.

    Same maps as ``truth_recall``; a url missing from truth is a cluster of
    its own, so any url outside the truth table that shares a component
    with another url adds a false pair. Linear in the number of urls.
    """
    comp_size = Counter(component.values())
    cells = Counter((c, truth.get(url, ("singleton", url))) for url, c in component.items())
    return sum(pair_count(n) for n in comp_size.values()) - sum(
        pair_count(n) for n in cells.values()
    )


def join_clusters(truth: dict[str, object], links) -> dict[str, str]:
    """truth (url -> cluster id) with the clusters of every linked url pair
    merged, as url -> smallest url of the merged cluster."""
    first: dict[object, str] = {}
    edges = list(links)
    for url, cid in truth.items():
        edges.append((first.setdefault(cid, url), url))
    return pair_components(edges)


def pair_components(pairs) -> dict[str, str]:
    """Connected components of an edge list as url -> smallest url in its
    component (union-find with path halving)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def digest(rows) -> str:
    """Order-independent digest of rows (tuples of str()-able values)."""
    h = hashlib.sha256()
    for line in sorted("\t".join(map(str, r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of its interval its child spans
    cover (overlapping children are merged, so no instant counts twice)."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.name and c.run_id == span.run_id
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.wall - covered


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the host between two /proc/stat 'cpu'
    samples (user nice system idle iowait irq softirq steal ...)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def read_proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]

