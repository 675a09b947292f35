"""``stream`` — continuous head-follow append (reference
``src/command/stream.rs``, SURVEY §3.2, T1-T7 semantics).

Structured Streaming shape: a rate-source tick stream drives
``foreachBatch``; each micro-batch polls the chain head, synthesizes any
skipped heights (T4 gap repair), dedups already-seen heights (T6), and
archives new heights as fork-tolerant single-block files (T1/T5,
``overwrite=False`` — S13 keep-existing). ``--continue`` backfills the 100
blocks before the first head via the fix plan (T3). ``follow='finalized'``
trails the head by a finality margin and tags notifications with maturity
(T2). Graceful shutdown is the StreamingQuery stop (T7).

The stream layer only decides *which heights* each batch covers; the batch
itself is ``archive_plan.archive_single_blocks``, ONE Spark job with no
shuffle whose tasks fetch each height's block (fork twin included) and
txes/traces and write every kind's single-block file. A batch of a few
heights is bound by job and task launches, not data, so it runs at most
``defaultParallelism`` tasks.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..core.filenames import DataKind
from ..core.ranges import Range
from ..plans.archive_plan import archive_single_blocks
from ..plans.fix_plan import fix
from ..sources.fetcher import FetchPolicy

FINALITY_MARGIN = 64  # ~2 epochs (reference next_block.rs:28-30)
CONTINUE_WINDOW = 100  # stream.rs:43-47


@dataclass
class StreamState:
    last_archived: int | None = None
    batches: int = 0
    archived_heights: list[int] = field(default_factory=list)
    backfilled: list[tuple[str, int, int]] = field(default_factory=list)
    # write-result rows of every batch's files (notification source)
    write_rows: list = field(default_factory=list)


def stream_batch(
    spark: SparkSession,
    provider,
    root: str,
    state: StreamState,
    tables: tuple[DataKind, ...],
    policy: FetchPolicy,
    follow: str = "latest",
    max_heights_per_batch: int = 64,
    head_fn=None,
    metrics_registry=None,
    fmt: str = "parquet",
    compression: str = "zstd",
    progress=None,
) -> None:
    """One micro-batch: poll head → dedup/gap-synthesize → archive.

    ``head_fn`` overrides where the head comes from — a ``HeadCursor`` fed
    by a reconnecting push subscription instead of a per-batch RPC poll.
    ``metrics_registry`` receives per-batch item/byte/blockTime counts
    (the stream run is the reference's long-lived serving case for the
    Prometheus endpoint)."""
    if follow == "finalized":
        # prefer the node's own finality tag (the reference's
        # NextFinalizedBlock subscribes to "finalized", next_block.rs);
        # providers without one fall back to the fixed ~2-epoch margin
        fin = getattr(provider, "finalized", None)
        head = fin() if fin is not None else max(0, provider.head() - FINALITY_MARGIN)
        maturity = "finalized"
    else:
        head = head_fn() if head_fn is not None else provider.head()
        maturity = "head"
    if head is None:
        if progress is not None:
            progress.pause()  # idle wait must not dilute reported speed
        state.batches += 1
        return  # subscription not primed yet
    if state.last_archived is not None and head <= state.last_archived:
        if progress is not None:
            progress.pause()
        state.batches += 1
        return  # T6: dedup repeated heads
    lo = head if state.last_archived is None else state.last_archived + 1
    hi = min(head, lo + max_heights_per_batch - 1)  # bound batch size
    if progress is not None:
        progress.resume()
    t0 = time.perf_counter()
    res = archive_single_blocks(
        spark,
        provider,
        root,
        Range(lo, hi),
        tables=tables,
        policy=policy,
        forks=follow == "latest",  # T5: fork-tolerant only at the live head
        run="stream",
        maturity=maturity,
        fmt=fmt,
        compression=compression,
    )
    if metrics_registry is not None:
        metrics_registry.record_write_results(
            res.write_rows, time.perf_counter() - t0
        )
    if progress is not None:
        import os as _os

        progress.on_record(hi - lo + 1)
        for r in res.write_rows:
            if not r["skipped"]:
                try:
                    progress.on_bytes(_os.path.getsize(r["location"]))
                except OSError:
                    pass  # object-store locations: sizes ride the registry
    state.write_rows.extend(res.write_rows)
    state.archived_heights.extend(range(lo, hi + 1))
    state.last_archived = hi
    state.batches += 1


def run_stream(
    spark: SparkSession,
    provider,
    root: str,
    tables: tuple[DataKind, ...] = (DataKind.BLOCKS, DataKind.TRANSACTIONS),
    policy: FetchPolicy = FetchPolicy(),
    follow: str = "latest",
    continue_from_archive: bool = False,
    num_batches: int = 3,
    poll_interval_s: float = 0.0,
    engine: str = "query",
    checkpoint_dir: str | None = None,
    timeout_s: float = 120.0,
    head_source=None,
    metrics_registry=None,
    fmt: str = "parquet",
    compression: str = "zstd",
    progress=None,
) -> StreamState:
    """Follow the chain head for ``num_batches`` micro-batches.

    The DEFAULT engine is a genuine checkpointed Structured Streaming query:
    rate-source ticks drive ``stream_batch`` through ``foreachBatch`` with a
    ``checkpointLocation`` under the archive root — restart-safe offsets, T7
    graceful shutdown via ``StreamingQuery.stop()``. ``engine="loop"`` runs
    the identical batch body in a plain driver loop (deterministic timing
    for micro-tests; also the shape for external schedulers).

    ``head_source`` (a ``HeadStream``) switches head discovery from
    per-batch polling to a reconnecting push subscription consumed on a
    daemon thread — the reference's gRPC SubscribeHead channel
    (connection.rs:113-154) plus the reconnect its ``//TODO`` never
    built."""
    import os

    from .head_source import HeadCursor

    state = StreamState()
    cursor = HeadCursor(head_source) if head_source is not None else None
    head_fn = cursor.head if cursor is not None else None
    if continue_from_archive:
        # T3: on start, repair any missing tables in the window preceding
        # the current head
        head = provider.head()
        if follow == "finalized":
            head = max(0, head - FINALITY_MARGIN)
        window = Range(head, head).up_to(CONTINUE_WINDOW)
        res = fix(spark, provider, root, window, tables=tables, policy=policy)
        state.backfilled = res.missing

    if engine == "loop":
        try:
            for _ in range(num_batches):
                stream_batch(spark, provider, root, state, tables, policy,
                             follow, head_fn=head_fn,
                             metrics_registry=metrics_registry,
                             fmt=fmt, compression=compression,
                             progress=progress)
                if poll_interval_s:
                    time.sleep(poll_interval_s)
        finally:
            if cursor is not None:
                cursor.stop()
        return state

    ckpt = checkpoint_dir or os.path.join(root, "_checkpoints", "stream")

    def on_batch(_df, _batch_id):
        # the stop below is asynchronous — never run past the batch budget
        if state.batches < num_batches:
            stream_batch(spark, provider, root, state, tables, policy,
                         follow, head_fn=head_fn,
                         metrics_registry=metrics_registry,
                         fmt=fmt, compression=compression,
                         progress=progress)

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 4)
        .load()
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        while time.time() < deadline and state.batches < num_batches:
            time.sleep(0.2)
    finally:
        q.stop()  # T7 graceful shutdown
        if cursor is not None:
            cursor.stop()
    return state
