"""The one materialization policy: every lineage cut in the library goes
through ``share`` or ``pin``, the only two callers of ``localCheckpoint``.

Why plans are cut at all. Spark has no common-subexpression elimination
across the subtrees of one plan: a frame read by N branches (a join's two
ends, a census and its broadcast probes, an aggregate and its join-back)
executes its whole upstream N times. And a driver-side loop (connected
components, Lloyd rounds) that feeds each round's output into the next
grows its plan every round until Catalyst analysis dominates. A local
checkpoint replaces the frame's lineage with its materialized blocks, so
every reader scans those blocks instead (``Scan ExistingRDD`` in a plan —
which also hides the upstream operators; spy on these two functions to see
the plans they receive).

The two cuts, named for why a caller cuts:

  * ``share`` — LAZY. The frame is computed once, by the first job that
    needs it, and every later reader scans the blocks. No job runs at
    composition time, so callers stay pure plan composition (streaming
    DataFrames, dry plans). Use it for a subtree that several branches of
    one plan read.
  * ``pin`` — EAGER. The frame is materialized NOW, with one job. A lazy
    cut only deduplicates work across SEQUENTIAL actions: two sibling
    stages of one job that both read a cold lazy cut race on it and each
    computes the full subtree (measured as 2x the signature map work,
    BENCH.md round 3). Use it for sibling stages of one job, for the
    input of a driver-side loop, and for a frame whose backing files are
    about to be deleted.

Both keep Spark's local-checkpoint semantics: the blocks live on the
executors with no lineage fallback, so losing an executor fails the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def share(df: DataFrame) -> DataFrame:
    """Lazy cut: ``df`` behind a local checkpoint written by the first job
    that reads it."""
    return df.localCheckpoint(eager=False)


def pin(df: DataFrame) -> DataFrame:
    """Eager cut: ``df`` materialized now (one job) behind a local
    checkpoint."""
    return df.localCheckpoint(eager=True)
