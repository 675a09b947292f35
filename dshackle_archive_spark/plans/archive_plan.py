"""``archive`` — bulk historical copy (reference ``src/command/archive.rs`` +
``src/archiver/archiver.rs:116-176``) — and the stream's single-block
archive (``src/command/stream.rs``).

``archive`` (SURVEY §3.1): the height domain for each chunk is a DataFrame,
fetch stages are rate-capped ``mapInPandas`` fan-outs, writes are one file
per (chunk, kind) via the layout sink, and each written file emits a
notification row. Unlike the reference's sequential per-chunk loop, all
chunks of a range land in ONE Spark job per kind — the chunk key is the
shuffle/group key, so a 1000-executor cluster archives 1000 chunks at once.

``archive_single_blocks`` writes one file per (height, kind): a stream
batch of a few heights, where Spark job and task launches, not data, set
the latency. It is ONE ``mapInPandas`` job with no shuffle over a local
table listing each task's heights; a task fetches each of its heights'
blocks (fork twin included) and txes/traces and writes every kind's file
itself.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core.filenames import DataKind, single_file_path
from ..core.ranges import Range
from ..schemas import TABLE_SCHEMAS
from ..sources import ref_layout
from ..sources.fetcher import (
    FetchPolicy,
    block_row,
    fetch_blocks,
    fetch_table_for_heights,
    tx_rows,
)

ALL_TABLES = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)


@dataclass
class ArchiveResult:
    written: int = 0
    skipped: int = 0
    files: list[str] = field(default_factory=list)
    # raw write-result rows (metadata-scale; one per file) — feeds the
    # metrics registry with per-kind item counts without another action
    write_rows: list = field(default_factory=list)
    spark: SparkSession | None = field(default=None, repr=False, compare=False)

    @cached_property
    def notifications(self) -> DataFrame:
        """Notification rows of the written files, built on first read: a
        stream batch's caller rarely reads them."""
        return ref_layout.notifications_df(
            ref_layout.write_results_df(self.spark, self.write_rows)
        )


def archive_result(spark: SparkSession, rows: list) -> ArchiveResult:
    """The summary of one workflow call's write-result rows."""
    return ArchiveResult(
        written=sum(1 for r in rows if not r["skipped"]),
        skipped=sum(1 for r in rows if r["skipped"]),
        files=[r["location"] for r in rows if not r["skipped"]],
        write_rows=rows,
        spark=spark,
    )


def archive(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    tables: tuple[DataKind, ...] = ALL_TABLES,
    chunk: int = 1000,
    policy: FetchPolicy = FetchPolicy(),
    overwrite: bool = False,
    run: str = "archive",
    fmt: str = "parquet",
    compression: str = "zstd",
) -> ArchiveResult:
    """Archive ``rng`` into reference-layout range files under ``root``.

    ``fmt="avro"`` writes the reference's native Avro container format
    (schemas_avro) — byte-compatible with the reference tooling."""
    results: DataFrame | None = None
    for kind in tables:
        if kind == DataKind.BLOCKS:
            df = fetch_blocks(spark, provider, rng, policy)
        else:
            df = fetch_table_for_heights(spark, provider, rng, kind.value, policy)
        wr = ref_layout.write_range_files(
            df,
            root,
            provider.blockchain_id,
            kind,
            chunk=chunk,
            run=run,
            overwrite=overwrite,
            requested=rng,
            fmt=fmt,
            compression=compression,
        )
        results = wr if results is None else results.unionByName(wr)
    # materialize the write action once, keep the summary driver-side
    return archive_result(spark, results.collect())


def _archive_heights(
    provider,
    heights: list[int],
    tables: tuple[DataKind, ...],
    policy: FetchPolicy,
    forks: bool,
    base: str,
    run: str,
    maturity: str | None,
    fmt: str,
    compression: str,
) -> pd.DataFrame:
    """Fetch and write every requested kind of each height, one file per
    (height, kind); with ``forks`` the blocks files carry the block hash and
    a fork height gets its twin's file too (T5). Txes/traces are tagged
    with the canonical block fetched here. One write-result row per file."""
    out = []
    for h in heights:
        variants = [False, True] if forks and h in provider.fork_at else [False]
        blocks = ([block_row(provider, h, policy, fork) for fork in variants]
                  if DataKind.BLOCKS in tables else [])
        if any(kind != DataKind.BLOCKS for kind in tables):
            block_hash = blocks[0]["blockId"] if blocks else policy.call(provider.block, h)["hash"]
        for kind in tables:
            if kind == DataKind.BLOCKS:
                files = [([row], row["blockId"] if forks else None) for row in blocks]
            else:
                files = [(tx_rows(provider, h, block_hash, kind == DataKind.TRACES, policy),
                          None)]
            for rows, name_hash in files:
                out.append(ref_layout.write_file(
                    base, single_file_path(h, kind, block_hash=name_hash, fmt=fmt), kind,
                    pd.DataFrame(rows, columns=TABLE_SCHEMAS[kind.value].names), h, h,
                    provider.blockchain_id, run, False, maturity, fmt, compression))
    return pd.DataFrame(out, columns=ref_layout.WRITE_RESULT_SCHEMA.names)


def archive_single_blocks(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    tables: tuple[DataKind, ...] = ALL_TABLES,
    policy: FetchPolicy = FetchPolicy(),
    forks: bool = False,
    run: str = "stream",
    maturity: str | None = None,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> ArchiveResult:
    """Stream-shape archive: per-height single-block files, never overwritten,
    hash-qualified when fork-tolerant (T5).

    One Spark job, no shuffle: the task count is the tightest fetch cap of
    the requested kinds, bounded by the height count and
    ``defaultParallelism``. The height table is built from a pandas frame,
    so it reaches the JVM as an Arrow local table with one row per task."""
    caps = policy.thread_caps()
    cap = min({DataKind.BLOCKS: caps.blocks, DataKind.TRANSACTIONS: caps.tx,
               DataKind.TRACES: caps.trace}[k] for k in tables)
    heights = list(range(rng.start, rng.end + 1))
    n = max(1, min(cap, len(heights), spark.sparkContext.defaultParallelism))
    table = pd.DataFrame({"heights": [",".join(map(str, heights[i::n])) for i in range(n)]})
    base = ref_layout._join_path(root, provider.blockchain_id.lower())

    def archive_task(batches):
        for pdf in batches:
            for hs in pdf["heights"]:
                yield _archive_heights(provider, [int(h) for h in hs.split(",")], tables,
                                       policy, forks, base, run, maturity, fmt, compression)

    rows = (
        spark.createDataFrame(table, "heights string")
        .mapInPandas(archive_task, schema=ref_layout.WRITE_RESULT_SCHEMA)
        .collect()
    )
    return archive_result(spark, rows)
