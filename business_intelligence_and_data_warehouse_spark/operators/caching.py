"""Session-scoped cache bookkeeping for multi-consumer intermediates.

Operators persist derived tables (minhash/simhash/LSH signatures,
shingle tables, grouping-detail levels, normed embedding corpora) so a
self-join or re-aggregation doesn't recompute an Arrow UDF or shuffle
twice.  Those ``persist()`` calls used to be fire-and-forget: in a
long session that invokes many queries (the bench battery, the driver's
50-query correctness sweep, the oracle pytest over all registered
queries) the cached blocks accumulated until the JVM ContextCleaner
happened to collect them.

``pin`` registers every such DataFrame in a module-level ledger;
``release_pinned`` unpersists everything in it.  The query registry
(`plans.queries.query_fn`) calls ``release_pinned`` at the START of
each query invocation, so at most one query's working set is ever
cached — the previous query's blocks are dropped the moment the next
query begins, with no cooperation needed from the driver or bench
harness.  Unpersisting is non-blocking and safe even if the earlier
DataFrame is re-collected later: Spark just recomputes the lineage
(deterministically — every pinned intermediate here is built from
deterministic expressions/UDFs).

At 100 TB the same discipline matters more, not less: executor storage
memory evicts lazily, and a battery of pipeline stages that each pin a
signature table would otherwise thrash the unified memory region.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and remember it for the next
    ``release_pinned``."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(df)
    return df


def eager_pin(df: DataFrame) -> DataFrame:
    """``pin`` plus an immediate materialization of the cached blocks.

    For a pinned table whose first consumers are CONCURRENT — e.g. the
    k ALIASED broadcast builds of a sketch probe, which AQE submits in
    parallel — a lazy pin does not help the first materialization: all
    k builds find the cache unpopulated and each re-executes the full
    build lineage (measured on contamination_bloom: the bloom-build
    aggregate ran 4×, one per probe join, racing).  Materializing the
    blocks with one bounded job before handing the table out turns the
    k builds into cache reads.  Only worth it for tables that are
    BOUNDED by construction (sketch grids, panels) — corpus-sized pins
    should stay lazy and let their first real consumer pay the pass."""
    out = pin(df)
    out.count()
    return out


def release_pinned() -> int:
    """Unpersist every ledgered DataFrame; returns how many."""
    n = len(_PINNED)
    while _PINNED:
        try:
            _PINNED.pop().unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
    return n


_SCRATCH_PARENT: str | None = None


def scratch_dir(tag: str) -> str:
    """Unique per-invocation scratch directory under ONE per-process
    parent removed at interpreter exit — the single copy of the
    tmp-parent + atexit-rmtree + unique-child pattern shared by query
    result materialization (plans/streaming_queries._fresh_result_dir
    delegates here) and the artifact memos (operators/similarity).

    A fixed path would alias across invocations (a stale lazy reader
    of the previous dir fails mid-scan or silently reads newer rows);
    a per-dir atexit would leak registrations.  One parent, one
    cleanup."""
    global _SCRATCH_PARENT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_PARENT is None:
        _SCRATCH_PARENT = tempfile.mkdtemp(prefix="bidw_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_PARENT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_SCRATCH_PARENT)
