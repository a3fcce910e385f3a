"""foreachBatch sinks: the production path for streaming writes that
need transactional MERGE semantics Spark's built-in sinks don't offer.

`run_upsert_stream` drives a keyed last-state UPSERT: every
micro-batch merges into a snapshot table keeping, per key, the row
with the highest (order key).  The classic exactly-once recipe:

* the batch handler is IDEMPOTENT — a (lineage, batch-id) ledger
  records the last applied micro-batch, and a redelivered batch id is
  skipped outright (foreachBatch gives at-least-once delivery on
  restart; idempotence upgrades it to effectively-exactly-once).  The
  ledger is scoped to the CHECKPOINT LINEAGE (the query id in the
  checkpoint metadata): batch ids restart at 0 when a checkpoint is
  reset, so an unscoped id comparison would silently drop the first N
  batches of a rebuilt stream — the same scoping rule as Delta's
  (txnAppId, txnVersion) idempotent writes;
* the merge itself is pure DataFrame logic (union + row_number keep
  latest), so replaying the SAME batch through the merge is also a
  no-op by construction — the ledger saves the re-read cost, not
  correctness;
* the snapshot swaps atomically: the merged table is staged to a new
  versioned directory first, the current-pointer file is updated
  last, so a crash mid-write never corrupts the readable snapshot.

Scale notes (100 TB): the plain store rewrites the whole snapshot per
batch, O(|snapshot|); with ``bucket_count`` set, `_BucketStore`
rewrites only the key-hash buckets a batch touched, O(|touched
buckets|) — the file-level pruning a Delta/Iceberg MERGE would give,
without a table-format jar. The merge shuffle is keyed on the upsert
key — the minimum any keyed merge needs.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def merge_last_state(
    current: DataFrame | None,
    batch: DataFrame,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Union + keep the max-``order_col`` row per key (deterministic:
    callers pass an order column that is unique per key, e.g. a
    fixed-width ts||id string)."""
    merged = batch if current is None else current.unionByName(batch)
    _guard_reserved(merged, "merge_last_state")
    w = W.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _guard_reserved(df: DataFrame, who: str, col: str = "_rn") -> None:
    """The dedup-rank column would silently OVERWRITE (then drop) a
    caller column of the same name — refuse instead (the r6
    reserved-column rule, operators/incremental.py)."""
    if col in df.columns:
        raise ValueError(
            f"{who}: input carries reserved column {col!r}; rename it "
            "(the sink uses it internally and would drop it)"
        )


class _SnapshotStore:
    """Versioned parquet snapshot with an atomic current-pointer —
    the single-artifact facade over :class:`_TwinStore` (one frame
    named ``df``), so the pointer/ledger/prune logic exists exactly
    once.

    The ledger records (lineage, batch_id): micro-batch ids are only
    monotone WITHIN one checkpoint lineage (a reset checkpoint
    restarts them at 0), so the skip decision must be scoped to the
    lineage — the same reason Delta's idempotent writes key on
    (txnAppId, txnVersion), not version alone.
    """

    def __init__(self, spark: SparkSession, root: str):
        self._tw = _TwinStore(spark, root)

    def _state(self) -> dict | None:
        return self._tw._state()

    def read(self) -> DataFrame | None:
        return self._tw.read("df")

    def already_applied(self, lineage: str, batch_id: int) -> bool:
        return self._tw.already_applied(lineage, batch_id)

    def commit(self, df: DataFrame, lineage: str, batch_id: int) -> None:
        self._tw.commit({"df": df}, lineage, batch_id)



# ---------------------------------------------------------------------------
# shared snapshot-pointer primitives (ONE copy of the commit protocol)
# ---------------------------------------------------------------------------

def _pointer_path(root: str) -> str:
    return os.path.join(root, "_CURRENT")


def _read_pointer(root: str) -> dict | None:
    """Current pointer state, or None before the first commit."""
    try:
        with open(_pointer_path(root)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _flip_pointer(root: str, state: dict) -> None:
    """Atomically publish ``state``: staged tmp write + os.replace, so
    a crash mid-commit leaves the previous snapshot fully readable."""
    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, _pointer_path(root))


def _ledger_applied(state: dict | None, lineage: str, batch_id: int) -> bool:
    """The (lineage, batch_id) idempotence ledger shared by every
    snapshot store: batch ids are monotone only WITHIN one checkpoint
    lineage (a reset restarts them at 0), so the skip decision scopes
    to the lineage — the same rule as Delta's (txnAppId, txnVersion)."""
    return (
        state is not None
        and state.get("lineage") == lineage
        and batch_id <= int(state["batch_id"])
    )


class _BucketStore:
    """Key-hash-BUCKETED versioned snapshot with an atomic
    current-pointer: the O(touched-state) commit that replaces the
    plain store's O(state) full rewrite once keyed state outgrows the
    per-batch write budget (SCALE.md round-9 puts the crossover at
    ~25-30M snapshot rows on this VM).

    Mechanism — the same one the ANN ingest sink uses for its cell
    table, applied to keyed upsert state: rows are assigned a stable
    bucket ``pmod(xxhash64(key...), bucket_count)``; each commit
    rewrites ONLY the buckets the batch touched (written
    ``partitionBy("_bucket")`` into a fresh versioned dir) and CARRIES
    FORWARD the untouched buckets' existing directories by reference
    in the pointer file — exactly how Delta/Iceberg commits reference
    unchanged data files from the previous snapshot instead of
    rewriting them.  The pointer (bucket → path, lineage, batch_id)
    flips atomically via os.replace, so a crash mid-commit leaves the
    previous snapshot fully readable; version dirs no longer
    referenced by any live bucket are pruned after the flip.

    Untouched buckets are not merely cheap — their files are
    BYTE-UNTOUCHED across a commit (pytest-pinned in
    tests/test_streaming.py), which is what bounds per-batch IO by
    |touched buckets| rather than |state|.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bucket_count: int,
        key_cols: list[str] | None = None,
    ):
        if bucket_count < 1:
            raise ValueError(f"bucket_count must be >= 1, got {bucket_count}")
        self.spark = spark
        self.root = root
        self.bucket_count = bucket_count
        # recorded in the pointer so rebucket_snapshot can recompute
        # assignments offline, and validated on reopen (a different
        # key set would change every bucket assignment)
        self.key_cols = list(key_cols) if key_cols else None
        os.makedirs(root, exist_ok=True)

    def _state(self) -> dict | None:
        state = _read_pointer(self.root)
        if state is None:
            return None
        # FAIL LOUD on a geometry/layout mismatch: bucket assignment is
        # pmod(hash, bucket_count), so resuming an existing root with a
        # DIFFERENT bucket_count would look up keys in the wrong bucket
        # and silently violate the one-row-per-key contract (the old
        # row stays referenced in its old bucket while the new row
        # lands elsewhere — both come back from read()).  A root
        # written by the PLAIN store (pointer carries "paths", not
        # "buckets") is equally foreign.
        if "buckets" not in state:
            raise ValueError(
                f"{self.root} is not a bucketed snapshot root (pointer "
                "has no 'buckets' — written by the plain store?); use a "
                "fresh root or bucket_count=None"
            )
        stored = int(state.get("bucket_count", -1))
        if stored != self.bucket_count:
            raise ValueError(
                f"bucketed snapshot at {self.root} was written with "
                f"bucket_count={stored}, reopened with "
                f"{self.bucket_count}; the key→bucket assignment would "
                "change under existing state — resize offline with "
                "rebucket_snapshot (or rebuild the root)"
            )
        stored_keys = state.get("key_cols")
        if (
            stored_keys is not None
            and self.key_cols is not None
            and list(stored_keys) != self.key_cols
        ):
            raise ValueError(
                f"bucketed snapshot at {self.root} was keyed on "
                f"{stored_keys}, reopened with {self.key_cols}; a "
                "different key set changes every bucket assignment — "
                "use a fresh root"
            )
        return state

    def bucket_paths(self) -> dict[int, str]:
        state = self._state()
        if state is None:
            return {}
        return {int(b): p for b, p in state["buckets"].items()}

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Lazy union of the current snapshot's bucket directories —
        all of them, or only ``buckets`` (the touched-side read a
        partial merge needs).  The ``_bucket`` partition column lives
        in the directory names, not the data files, so the returned
        schema equals the plain store's."""
        paths = self.bucket_paths()
        if buckets is not None:
            paths = {b: p for b, p in paths.items() if b in set(buckets)}
        if not paths:
            return None
        return self.spark.read.parquet(*paths.values())

    def already_applied(self, lineage: str, batch_id: int) -> bool:
        return _ledger_applied(self._state(), lineage, batch_id)

    def commit(
        self,
        merged: DataFrame,
        touched: list[int],
        lineage: str,
        batch_id: int,
    ) -> None:
        """Write ``merged`` (rows of the touched buckets only, carrying
        an integer ``_bucket`` column) and flip the pointer: touched
        buckets point into the new version dir, untouched buckets keep
        their existing paths by reference."""
        version_dir = os.path.join(
            self.root, f"v{batch_id}_{uuid.uuid4().hex[:8]}"
        )
        # align tasks to buckets before the partitioned write: without
        # this every task emits a file into EVERY touched bucket dir
        # (tasks × buckets small files per commit — measured 3× the
        # whole commit cost at 20M-row state), with it each bucket's
        # rows land in one task and the commit writes ~|touched| files
        merged = merged.repartition(
            max(1, min(len(touched), 64)), "_bucket"
        )
        merged.write.mode("overwrite").partitionBy("_bucket").parquet(
            version_dir
        )
        paths = self.bucket_paths()
        replaced = [paths[b] for b in touched if b in paths]
        for b in touched:
            paths[b] = os.path.join(version_dir, f"_bucket={b}")
        _flip_pointer(
            self.root,
            {
                "buckets": {str(b): p for b, p in paths.items()},
                "bucket_count": self.bucket_count,
                "key_cols": self.key_cols,
                "lineage": lineage,
                "batch_id": batch_id,
            },
        )
        # prune version dirs no longer referenced by ANY live bucket
        live_dirs = {os.path.dirname(p) for p in paths.values()}
        for old in replaced:
            d = os.path.dirname(old)
            if d not in live_dirs:
                shutil.rmtree(d, ignore_errors=True)


def _bucket_expr(key_cols: list[str], bucket_count: int):
    """Stable key-hash bucket assignment — see functions/hashing
    (the one shared copy of the bucket contract)."""
    from ..functions.hashing import hash_bucket

    return hash_bucket(key_cols, bucket_count)


# Per-batch instrumentation hook (tools/stream_bench.py): when set to a
# callable (batch_id, wall_seconds, rows) -> None, _drive times each
# handler invocation.  The row count runs OUTSIDE the timed window so
# the measurement adds one scan per batch but never inflates the wall
# number it reports.  None (the default) leaves the drive path
# untouched.
BATCH_OBSERVER = None


def _drive(stream_df: DataFrame, handle, checkpoint_dir: str) -> None:
    """Run ``handle`` over every available micro-batch and wait for a
    clean shutdown — the ONE copy of the foreachBatch drive sequence
    every run_* sink shares (a fix to the drive path applies here,
    not in five places)."""
    if BATCH_OBSERVER is not None:
        import time

        inner, obs = handle, BATCH_OBSERVER

        def handle(batch_df: DataFrame, batch_id: int) -> None:  # noqa: F811
            t0 = time.perf_counter()
            inner(batch_df, batch_id)
            wall = time.perf_counter() - t0
            obs(batch_id, wall, batch_df.count())

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


def _lineage_read(store: _SnapshotStore, lineage: str) -> DataFrame | None:
    """The stored snapshot IF it belongs to this checkpoint lineage —
    the counting-class sinks' reset rule (a rebuilt checkpoint replays
    the source from scratch, so state from another lineage must be
    discarded, not merged into)."""
    state = store._state()
    if state is not None and state.get("lineage") == lineage:
        return store.read()
    return None


# last-resort lineage tokens for checkpoints whose filesystem rejects
# even the token write — one per (process, checkpoint path), see
# _checkpoint_lineage's fallback branch
_LINEAGE_FALLBACK: dict[str, str] = {}


def _checkpoint_lineage(checkpoint_dir: str) -> str:
    """The streaming query id stored in the checkpoint's metadata file
    — stable across restarts FROM that checkpoint, different for a
    reset/rebuilt checkpoint, which is exactly the scope batch ids are
    monotone in.

    If the metadata file is unreadable, a random token is minted ONCE
    and persisted alongside the checkpoint (never a shared constant:
    two distinct rebuilt lineages falling back to the same string
    would share a ledger scope, and already_applied would silently
    drop the first batches of the second stream — the exact failure
    lineage scoping exists to prevent)."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return str(json.load(fh)["id"])
    except (OSError, ValueError, KeyError):
        pass
    token_path = os.path.join(checkpoint_dir, ".bidw_lineage_token")
    try:
        with open(token_path) as fh:
            return fh.read().strip()
    except OSError:
        pass
    token = uuid.uuid4().hex
    try:
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = token_path + f".tmp-{token}"
        with open(tmp, "w") as fh:
            fh.write(token)
        os.replace(tmp, token_path)
        # re-read: a concurrent minter may have replaced after us, and
        # all callers must agree on ONE token per checkpoint
        with open(token_path) as fh:
            return fh.read().strip()
    except OSError:
        # token persistence ALSO failed (read-only / failing fs): fall
        # back to one token per (process, checkpoint path) — a fresh
        # token per CALL would make already_applied never fire and the
        # counting sinks would silently commit only the final batch's
        # state as if it covered the whole stream
        return _LINEAGE_FALLBACK.setdefault(checkpoint_dir, token)


def rebucket_snapshot(
    spark: SparkSession, root: str, new_bucket_count: int
) -> tuple[int, int]:
    """Offline RESIZE of a bucketed snapshot root: read every bucket,
    reassign rows under ``new_bucket_count``, write ONE fresh version
    dir, flip the pointer, prune the old version dirs — the
    "compaction that re-buckets" the geometry guard points at, run in
    a maintenance window exactly like compact_parquet.

    Key columns come from the pointer (recorded at commit time), so
    the resize cannot silently re-key the state; the ledger
    (lineage, batch_id) carries over unchanged — a resize is not a
    batch, and the stream resumes against the resized layout with the
    NEW bucket_count passed to run_upsert_stream.  Cost is one full
    O(state) shuffle+rewrite, which is exactly what resizing a
    hash-partitioned layout costs anywhere (Delta OPTIMIZE, Iceberg
    rewrite_data_files).

    Returns (old_bucket_count, new_bucket_count).
    """
    if new_bucket_count < 1:
        raise ValueError(
            f"new_bucket_count must be >= 1, got {new_bucket_count}"
        )
    state = _read_pointer(root)
    if state is None or "buckets" not in state:
        raise ValueError(
            f"{root} is not a committed bucketed snapshot root"
        )
    key_cols = state.get("key_cols")
    if not key_cols:
        raise ValueError(
            f"pointer at {root} records no key_cols (written before the "
            "resize support); rebuild the root instead"
        )
    old_count = int(state["bucket_count"])
    old_paths = {int(b): p for b, p in state["buckets"].items()}
    df = spark.read.parquet(*old_paths.values()).withColumn(
        "_bucket", _bucket_expr(list(key_cols), new_bucket_count)
    )
    version_dir = os.path.join(root, f"rebucket_{uuid.uuid4().hex[:8]}")
    (
        df.repartition(max(1, min(new_bucket_count, 64)), "_bucket")
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(version_dir)
    )
    new_paths = {
        int(d[len("_bucket="):]): os.path.join(version_dir, d)
        for d in os.listdir(version_dir)
        if d.startswith("_bucket=")
    }
    _flip_pointer(
        root,
        {
            "buckets": {str(b): p for b, p in new_paths.items()},
            "bucket_count": new_bucket_count,
            "key_cols": list(key_cols),
            "lineage": state.get("lineage"),
            "batch_id": state.get("batch_id"),
        },
    )
    for d in {os.path.dirname(p) for p in old_paths.values()}:
        if d != version_dir:
            shutil.rmtree(d, ignore_errors=True)
    return old_count, new_bucket_count


def _upsert_batch_bucketed(
    bstore: "_BucketStore",
    batch_df: DataFrame,
    key_cols: list[str],
    order_col: str,
    lineage: str,
    batch_id: int,
) -> None:
    """One bucketed upsert micro-batch: assign buckets, read ONLY the
    touched buckets' current state, merge, commit the touched set.
    Factored out of the stream handler so property tests can drive
    arbitrary batch sequences store-directly (no streaming harness)."""
    if bstore.already_applied(lineage, batch_id):
        return  # redelivered batch within this lineage: skip
    _guard_reserved(batch_df, "run_upsert_stream", "_bucket")
    bucket_count = bstore.bucket_count
    batch = batch_df.withColumn(
        "_bucket", _bucket_expr(key_cols, bucket_count)
    )
    # the touched-bucket set is bounded by bucket_count (a small
    # constant), so this collect is a bounded-size driver list —
    # the same class as the ANN sink's one-row digest agg
    touched = sorted(
        r._bucket
        for r in batch.select("_bucket").distinct().collect()
    )
    cur = bstore.read(touched)
    if cur is not None:
        # bucket dirs store the partition value in their NAME, not
        # the data files — recompute it (deterministic in the keys)
        cur = cur.withColumn(
            "_bucket", _bucket_expr(key_cols, bucket_count)
        )
    merged = merge_last_state(cur, batch, key_cols, order_col)
    bstore.commit(merged, touched, lineage, batch_id)


def run_upsert_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    key_cols: list[str],
    order_col: str,
    root: str,
    bucket_count: int | None = None,
) -> DataFrame:
    """Drive ``stream_df`` to completion through a foreachBatch
    last-state upsert into a snapshot store at ``root``; returns the
    final snapshot.

    ``bucket_count`` selects the commit strategy:

    * ``None`` (default) — the plain versioned snapshot: every batch
      rewrites the whole merged state.  Right while state is small
      (the rewrite is one narrow stage and the store stays trivially
      atomic);
    * an int — the BUCKETED partial rewrite (:class:`_BucketStore`):
      state is hash-partitioned on the upsert key into that many
      buckets, and a batch merges into + rewrites ONLY the buckets its
      keys land in, carrying every untouched bucket forward by
      reference.  Per-batch cost drops from O(|state|) to
      O(|state| · touched/bucket_count + |batch|) — the mitigation for
      the ~25-30M-row crossover SCALE.md round-9 measured.  Size it so
      one bucket's rows fit a comfortable write task (e.g. state-rows
      / 1-5M), and well above the typical batch's distinct-key spread
      so batches actually touch a subset.  Both strategies produce
      IDENTICAL final state (same merge, same keys — pytest-pinned).

    CONTRACT: the returned DataFrame is a LAZY read of the current
    snapshot directory, which the NEXT run against the same ``root``
    prunes after its commit.  Materialize it (write it out, cache +
    count) before any further run touches ``root``, or treat it as
    consumed — deferring an action past another run reads a deleted
    path.  (The registry adapter writes it to its own parquet dir
    before returning, plans/streaming_queries.py.)"""
    checkpoint_dir = os.path.join(root, "_checkpoint")

    if bucket_count is None:
        store = _SnapshotStore(spark, root)

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            lineage = _checkpoint_lineage(checkpoint_dir)
            if store.already_applied(lineage, batch_id):
                return  # redelivered batch within this lineage: skip
            merged = merge_last_state(
                store.read(), batch_df, key_cols, order_col
            )
            store.commit(merged, lineage, batch_id)

        _drive(stream_df, handle, checkpoint_dir)
        out = store.read()
        assert out is not None, "stream produced no batches"
        return out

    bstore = _BucketStore(spark, root, bucket_count, key_cols=key_cols)

    def handle_bucketed(batch_df: DataFrame, batch_id: int) -> None:
        _upsert_batch_bucketed(
            bstore,
            batch_df,
            key_cols,
            order_col,
            _checkpoint_lineage(checkpoint_dir),
            batch_id,
        )

    _drive(stream_df, handle_bucketed, checkpoint_dir)
    out = bstore.read()
    assert out is not None, "stream produced no batches"
    return out


def run_cms_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    key_col: str,
    depth: int,
    width: int,
    root: str,
) -> DataFrame:
    """Maintain a count-min sketch over a stream: each micro-batch's
    d×w grid (operators/sketches.cms_build) is merged into the stored
    sketch by CELLWISE ADDITION — exact, commutative, and idempotent
    under the snapshot store's batch-id ledger, so replayed batches
    never double-count and the final sketch equals the one-shot batch
    sketch bit for bit.

    This is the bounded-state streaming frequency story at 100 TB:
    per-key exact counts grow with key cardinality, the sketch stays
    d×w rows per epoch no matter what flows through. Returns a LAZY
    read of the final snapshot — same materialize-before-reuse
    contract as :func:`run_upsert_stream`.

    The sketch is SCOPED TO ONE CHECKPOINT LINEAGE: cellwise addition
    is not idempotent, so a reset/rebuilt checkpoint (new lineage id,
    batch ids restart at 0, the source replays from scratch) must NOT
    add its replayed batches onto the old lineage's cells — that would
    double every count. On a lineage change the stored sketch is
    discarded and rebuilt from the replay, which is exactly the
    replayed epoch's correct counts (the upsert/SCD sinks survive a
    reset because their merges are idempotent; a counting merge is
    not, so it resets — same reason Delta keys txn idempotence on
    (appId, version) and counting sinks re-derive on app change).
    """
    from ..operators.sketches import _assert_sketch_params, cms_build

    store = _SnapshotStore(spark, root)
    checkpoint_dir = os.path.join(root, "_checkpoint")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        lineage = _checkpoint_lineage(checkpoint_dir)
        if store.already_applied(lineage, batch_id):
            return  # redelivered batch within this lineage: skip
        batch_cms = cms_build(batch_df, key_col, depth, width)
        cur = _lineage_read(store, lineage)  # new lineage: fresh sketch
        if cur is None:
            merged = batch_cms
        else:
            # validate the STORED side against this run's parameters
            # before cellwise addition (a depth/width-mismatched rerun
            # against an existing root must fail loudly, not produce a
            # frankengrid); the guard uses metadata when present and
            # the real depth/width columns otherwise
            cur = _assert_sketch_params(
                cur,
                "cnt",
                {"depth": depth, "width": width},
                "run_cms_stream (stored sketch)",
            )
            merged = (
                cur.unionByName(batch_cms)
                .groupBy("row", "col")
                .agg(
                    # re-attach the build params a bare re-alias would
                    # strip: metadata for Spark-written storage, plus
                    # the real columns below, which survive ANY storage
                    F.sum("cnt").alias(
                        "cnt", metadata={"depth": depth, "width": width}
                    )
                )
                .select(
                    "row",
                    "col",
                    "cnt",
                    F.lit(depth).alias("depth"),
                    F.lit(width).alias("width"),
                )
            )
        store.commit(merged, lineage, batch_id)

    _drive(stream_df, handle, checkpoint_dir)
    out = store.read()
    assert out is not None, "stream produced no batches"
    return out


def run_quantile_sketch_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    value_col: str,
    key_col: str,
    k: int,
    root: str,
) -> DataFrame:
    """Maintain a bottom-k quantile sketch over a stream: each
    micro-batch's (priority, value) sample (operators/sketches.
    quantile_sketch_build) merges into the stored sketch by
    union + keep-k-smallest — the same set identity that makes
    shard-merge == single-pass in batch, so the final sketch is
    bit-identical to the one-shot batch sketch over everything that
    flowed through.

    Lineage classification (the foreachBatch taxonomy in
    run_cms_stream's docstring): a union merge over raw rows is NOT
    idempotent — a replayed batch would inject duplicate (priority,
    value) rows that displace distinct sample elements — so this sink
    sits in the COUNTING class: redelivered batches are skipped by
    the batch-id ledger within a lineage, and a checkpoint-lineage
    change discards the sketch and rebuilds from the replay.

    Bounded state at 100 TB: the stored artifact is k rows per epoch
    regardless of stream volume, and the merge cost per batch is
    O(k + batch sample) — the quantile counterpart of the CMS grid.
    """
    from ..operators.sketches import quantile_sketch_build, quantile_sketch_merge

    store = _SnapshotStore(spark, root)
    checkpoint_dir = os.path.join(root, "_checkpoint")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        lineage = _checkpoint_lineage(checkpoint_dir)
        if store.already_applied(lineage, batch_id):
            return
        batch_sk = quantile_sketch_build(
            batch_df, value_col, F.col(key_col), k=k
        )
        cur = _lineage_read(store, lineage)  # new lineage: fresh sketch
        merged = (
            batch_sk
            if cur is None
            # the operator's own merge (the identity the batch tests
            # pin); cur round-trips Spark parquet WITH its k metadata,
            # so the merge's k-guard checks BOTH sides — a k-mismatched
            # rerun against an existing root fails loudly on cur
            else quantile_sketch_merge([batch_sk, cur], k=k)
        )
        store.commit(merged, lineage, batch_id)

    _drive(stream_df, handle, checkpoint_dir)
    out = store.read()
    assert out is not None, "stream produced no batches"
    return out


def run_scd2_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    nat_key: list[str],
    tracked: list[str],
    load_date_col: str,
    order_col: str,
    root: str,
) -> DataFrame:
    """Streaming SCD2 dimension maintenance: drive ``stream_df``
    (dimension updates carrying a ``load_date_col`` load period and an
    ``order_col`` intra-period order) through a foreachBatch sink that
    applies :func:`..operators.scd.scd2_merge` once per load period,
    in period order, against a versioned snapshot store.

    Cross-batch ordering: the last update per (key, load period) is
    resolved against a PERSISTED last-per-period state table (its own
    snapshot store under ``root``/lastp, merged with
    :func:`merge_last_state` on max ``order_col``), not just within
    the micro-batch — a later batch delivering an OLDER event for a
    period already applied merges the stored newer row again, which
    scd2_merge treats as an unchanged no-op, so stale redeliveries can
    never regress the dimension.  The state is pruned to each key's
    rows at/after its open period (bounded by keys, not stream
    length).  The same (lineage, batch-id) ledger as
    :func:`run_upsert_stream` makes redelivery a no-op; the lastp
    merge is itself idempotent, so its store needs no ledger gate.

    Contract: load periods apply in nondecreasing order PER KEY — an
    update for a period older than its key's open version cannot be
    retro-inserted into closed history by a forward merge and is
    dropped (filtered against the open rows), matching batch-SCD2
    load discipline.

    The per-batch period list is a driver collect of BOUNDED
    cardinality (one row per load period present in the batch — days
    or weeks, not events); the updates themselves never leave the
    cluster.  Returns the final dimension snapshot (same lazy-read
    contract as run_upsert_stream — materialize before another run
    touches ``root``).
    """
    from ..operators.scd import HIGH_DATE, scd2_merge

    store = _SnapshotStore(spark, root)
    lastp_store = _SnapshotStore(spark, os.path.join(root, "lastp"))
    checkpoint_dir = os.path.join(root, "_checkpoint")
    dim_cols = [*nat_key, *tracked, "effective_from", "effective_to", "version"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        lineage = _checkpoint_lineage(checkpoint_dir)
        if store.already_applied(lineage, batch_id):
            return
        _guard_reserved(batch_df, "run_scd2_stream")
        w = W.partitionBy(*nat_key, load_date_col).orderBy(
            F.col(order_col).desc()
        )
        batch_lastp = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # global (cross-batch) last update per (key, period)
        lastp = merge_last_state(
            lastp_store.read(),
            batch_lastp,
            [*nat_key, load_date_col],
            order_col,
        ).localCheckpoint(eager=True)
        # bounded: one row per load period in this batch
        dates = sorted(
            str(r[0])
            for r in batch_lastp.select(load_date_col).distinct().collect()
        )
        dim = store.read()
        if dim is None:
            from pyspark.sql import types as T

            fields = [
                batch_lastp.schema[c] for c in (*nat_key, *tracked)
            ] + [
                T.StructField("effective_from", T.DateType()),
                T.StructField("effective_to", T.DateType()),
                T.StructField("version", T.IntegerType()),
            ]
            dim = spark.createDataFrame([], T.StructType(fields))
        high = F.to_date(F.lit(HIGH_DATE))
        for d in dates:
            open_from = dim.filter(F.col("effective_to") == high).select(
                *nat_key, F.col("effective_from").alias("_open_from")
            )
            day_batch = (
                lastp.filter(F.col(load_date_col) == F.to_date(F.lit(d)))
                # per-key in-order contract: a period older than the
                # key's open version cannot be retro-merged — drop it
                .join(open_from, nat_key, "left")
                .filter(
                    F.col("_open_from").isNull()
                    | (F.col("_open_from") <= F.to_date(F.lit(d)))
                )
                .select(*nat_key, *tracked)
            )
            # materialize per load period: scd2_merge references its
            # input dim twice (the open slice and the history) and
            # day_batch reads it once more, so a lazy fold over P
            # periods still grows the analyzed plan exponentially in
            # P — the checkpoint truncates lineage to
            # keep each merge O(|dim|).  Committing per period instead
            # would break idempotence (a crash mid-batch would leave a
            # partial-period snapshot marked applied); one commit per
            # micro-batch keeps the ledger transactional.
            dim = scd2_merge(
                dim, day_batch, nat_key, tracked, d
            ).localCheckpoint(eager=True)
        # prune lastp to the live working set: each key's rows at/after
        # its open period (older rows can never win a future merge)
        open_from = dim.filter(F.col("effective_to") == high).select(
            *nat_key, F.col("effective_from").alias("_open_from")
        )
        pruned = (
            lastp.join(open_from, nat_key, "left")
            .filter(
                F.col("_open_from").isNull()
                | (F.col(load_date_col) >= F.col("_open_from"))
            )
            .drop("_open_from")
        )
        # lastp first: if we crash before the dim commit, redelivery
        # re-merges the same batch into lastp (idempotent) and the dim
        # ledger still gates exactly-once application
        lastp_store.commit(pruned, lineage, batch_id)
        store.commit(dim.select(*dim_cols), lineage, batch_id)

    _drive(stream_df, handle, checkpoint_dir)
    out = store.read()
    assert out is not None, "stream produced no batches"
    return out


class _TwinStore:
    """Two named parquet snapshots behind ONE atomic pointer.

    The near-dup gate must commit its verdict log and its accepted
    corpus TOGETHER: with two independent stores, a crash between the
    commits leaves replay either re-classifying a batch against a
    corpus that already contains the batch's own novel docs (every doc
    becomes its own exact_dup) or permanently dropping the batch's
    novel docs from the corpus. One pointer referencing both paths
    makes the (lineage, batch) skip decision cover both artifacts.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _state(self) -> dict | None:
        return _read_pointer(self.root)

    def read(self, name: str) -> DataFrame | None:
        state = self._state()
        if state is None or name not in state["paths"]:
            return None
        return self.spark.read.parquet(state["paths"][name])

    def already_applied(self, lineage: str, batch_id: int) -> bool:
        return _ledger_applied(self._state(), lineage, batch_id)

    def commit(
        self, frames: dict[str, DataFrame], lineage: str, batch_id: int
    ) -> None:
        state = self._state()
        # CARRY FORWARD committed snapshots this commit does not
        # overwrite: a commit naming only {"verdicts"} must not destroy
        # a previously accepted {"corpus"} (e.g. a later
        # run_neardup_filter_stream invocation with accept_novel=False
        # against a root built with accept_novel=True) — only the
        # snapshots actually REPLACED here are pruned
        paths: dict[str, str] = (
            dict(state["paths"]) if state is not None else {}
        )
        replaced = [paths[name] for name in frames if name in paths]
        for name, df in frames.items():
            path = os.path.join(
                self.root, f"{name}_v{batch_id}_{uuid.uuid4().hex[:8]}"
            )
            df.write.mode("overwrite").parquet(path)
            paths[name] = path
        # both snapshots flip at once
        _flip_pointer(
            self.root,
            {"paths": paths, "lineage": lineage, "batch_id": batch_id},
        )
        live = set(paths.values())
        for old in replaced:
            if old not in live:
                shutil.rmtree(old, ignore_errors=True)


def run_neardup_filter_stream(
    doc_stream: DataFrame,
    spark: SparkSession,
    corpus: DataFrame,
    root: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 50,
    accept_novel: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming near-duplicate gate: each document micro-batch is
    classified against the standing corpus with
    operators/dedup.incremental_dedup (exact_dup / near_dup / novel)
    inside a foreachBatch sink; verdicts accumulate in a snapshot
    store with the same (lineage, batch_id) idempotence ledger as the
    upsert sink, so at-least-once redelivery cannot double-classify —
    and the append itself is keyed (first verdict per doc wins, via an
    anti-join against the standing log), so even a checkpoint-RESET
    replay, which defeats any batch-id ledger, converges to the same
    verdict set instead of duplicating rows.

    With ``accept_novel`` the batch's novel documents JOIN the
    standing corpus before the next batch — the crawl-loop contract
    (later arrivals dedupe against everything accepted so far). The
    verdict log and the accepted corpus commit through ONE atomic
    pointer (see :class:`_TwinStore`) so replay is consistent no
    matter where a crash lands.

    Scale: per batch the cost is incremental_dedup's asymmetric-join
    contract — O(|batch| x blocking) against the corpus shingle
    table, never corpus x corpus; the corpus snapshot is a parquet
    rewrite only when novel docs are accepted (append-only rows, but
    rewritten as one narrow stage — swap for Delta/Iceberg appends at
    production scale). Returns the accumulated verdict log.
    """
    from ..operators.caching import release_pinned
    from ..operators.dedup import incremental_dedup

    store = _TwinStore(spark, root)
    checkpoint_dir = os.path.join(root, "_checkpoint")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # drop the PREVIOUS batch's pinned token tables before this
        # batch pins its own: incremental_dedup pins the corpus-side
        # tokenize, and a long-running stream would otherwise hold one
        # pinned copy per processed batch (the r4 session-residue
        # class — release_pinned only runs at registry-query
        # boundaries, never between micro-batches)
        release_pinned()
        lineage = _checkpoint_lineage(checkpoint_dir)
        if store.already_applied(lineage, batch_id):
            return
        standing = store.read("corpus") if accept_novel else None
        if standing is None:
            standing = corpus
        # materialize the verdicts ONCE: both commit frames read `out`
        # (the verdict append and the novel-doc semi-join), and without
        # this the whole classification pipeline would execute twice
        # per accept-novel batch
        out = incremental_dedup(
            batch_df,
            standing,
            k=k,
            threshold=threshold,
            max_df=max_df,
            id_col=id_col,
            text_col=text_col,
        ).localCheckpoint(eager=True)
        prev = store.read("verdicts")
        if prev is None:
            allv = out
        else:
            # idempotent append: a doc classified in an EARLIER commit
            # keeps its first verdict. This covers the lineage-RESET
            # replay (checkpoint deleted/rebuilt => already_applied is
            # False for redelivered batches): without the anti-join the
            # replay would duplicate every verdict row, and under
            # accept_novel would re-classify replayed docs as exact
            # dups of themselves (the corpus already holds them).
            allv = prev.unionByName(
                out.join(prev.select("doc_id"), "doc_id", "left_anti")
            )
        frames = {"verdicts": allv}
        if accept_novel:
            # a lineage-reset replay cannot double-add here: replayed
            # docs are already IN the corpus, so they classify as
            # exact_dup, never novel
            novel = batch_df.join(
                out.filter(F.col("verdict") == "novel").select(
                    F.col("doc_id").alias("_nid")
                ),
                F.col(id_col) == F.col("_nid"),
                "left_semi",
            )
            frames["corpus"] = standing.select(*corpus.columns).unionByName(
                novel.select(*corpus.columns)
            )
        store.commit(frames, lineage, batch_id)

    _drive(doc_stream, handle, checkpoint_dir)
    # drop the FINAL batch's pinned token tables too — without this the
    # last working set stays cached until some later registry query
    # happens to call release_pinned (the r4 session-residue class)
    release_pinned()
    out = store.read("verdicts")
    assert out is not None, "stream produced no batches"
    return out


def run_ann_ingest_stream(
    vector_stream: DataFrame,
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Continuous ANN-index ingest: each micro-batch of embeddings is
    assigned to the index's FROZEN centroids and written as its own
    (cell, load) partition set — the streaming face of
    operators/similarity.ivf_index_append.

    Exactly-once WITHOUT a ledger or snapshot rewrite: the load label
    is CONTENT-ADDRESSED — a 64-bit xor of per-row xxhash64(id, vector)
    digests of the batch plus its row count (vector values are folded
    in, so same-id/changed-content redelivery gets a NEW label rather
    than silently reusing the old partitions) — and the append uses dynamic partition
    overwrite, so a redelivered batch rewrites exactly the partitions
    it wrote the first time (assignment is deterministic given the
    centroids — replay converges to the same bytes).  Content
    addressing (rather than the earlier ``lineage-batchid`` label)
    makes idempotency survive a FRESH-CHECKPOINT restart over the same
    source: the replayed batches carry the same digests, so they
    overwrite rather than duplicate.  Residual caveat: if a restart
    re-splits the source into DIFFERENT micro-batch boundaries
    (e.g. a changed maxFilesPerTrigger), partially-overlapping batches
    get new digests and their vids duplicate — run
    operators.similarity.compact_ivf_index (the vid-level dedup
    compact; regression-tested in tests/test_pipeline.py)
    or rebuild the index after changing batching knobs.

    MIGRATION (ENFORCED since r12): the label format has changed
    twice — r10 moved 12-hex ``xxhash64(id)`` to 16-hex
    ``xxhash64(id, vector)``-plus-count, and r12 strengthened the
    digest fold (xor combined with a multiplied additive fold, so
    even-multiplicity duplicate rows cannot cancel) under a ``v2-``
    label prefix.  A stream started against an index written under
    ANY earlier formula computes a different label on redelivery of
    an already-applied batch and APPENDS duplicate vids instead of
    overwriting the old partitions — and this holds for fresh
    checkpoints too (the replay-over-same-source convergence property
    depends on reproducing the stored labels).  Until r12 a docstring
    warned; now :func:`operators.similarity.assert_ingest_label_compat`
    runs at stream start and REFUSES any index carrying labels that
    are neither ``base`` nor current-format, naming the offenders.
    The fix it prescribes — compact_ivf_index — is idempotent,
    rebases every load into ``src=base``, heals any duplicates
    already appended, and clears the check.
    This sink is
    the one streaming write in the engine whose state is
    APPEND-STRUCTURED: an inverted file grows by whole cells-worth of
    new postings, so unlike the snapshot-store sinks there is no
    O(state) commit to fall back to — per-batch cost is
    O(batch · cells) assignment plus one partitioned write, at any
    index size.

    Small-files note: one file set per (cell, batch) accretes exactly
    the way incremental loads always do; compact_parquet
    (sources/warehouse.py) is the maintenance pass, and rebuilding
    the index retrains + re-bases in one shot.
    """
    from ..operators.similarity import (
        assert_ingest_label_compat,
        ivf_index_append,
    )

    # refuse up front rather than duplicate on redelivery (see
    # MIGRATION above) — fresh checkpoint or resumed alike
    assert_ingest_label_compat(index_dir)

    checkpoint_dir = os.path.join(index_dir, "_ingest_checkpoint")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # content-addressed load label: commutative digest of the
        # batch's (id, vector) hashes + row count — independent of
        # partitioning and row order, one tiny agg action per batch
        # (the batch is about to be fully scanned for the write
        # anyway).  The r12 digest combines the xor fold with a
        # multiplied additive fold so even-multiplicity duplicate
        # rows cannot cancel (see _corpus_fingerprint); the v2-
        # prefix is what assert_ingest_label_compat keys on.  The
        # hash folds BOTH the id and the vector values in, so a
        # redelivered batch with the same ids but changed embeddings
        # gets a new label (changed vectors can land in different
        # cells; reusing the old label would leave stale rows in other
        # (cell, label) partitions).
        from ..operators.similarity import _corpus_fingerprint

        n_rows, xdigest = _corpus_fingerprint(batch_df, id_col, vec_col)
        label = f"v2-{xdigest:016x}-{n_rows}"
        ivf_index_append(
            spark,
            index_dir,
            batch_df,
            id_col=id_col,
            vec_col=vec_col,
            src=label,
        )

    _drive(vector_stream, handle, checkpoint_dir)
