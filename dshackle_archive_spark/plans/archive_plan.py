"""``archive`` — bulk historical copy (reference ``src/command/archive.rs`` +
``src/archiver/archiver.rs:116-176``) — and the stream's single-block
archive (``src/command/stream.rs``).

Both are built on one fetch-and-write kernel, ``UnitWriter``. A unit is a
height range plus the kinds to write for it: the writer fetches each
height's block once, builds the txes/traces rows from that block's hash, and
writes every kind's file itself through ``ref_layout.write_file`` — a
range file per kind advertising the unit's range (a transaction-less unit
still gets its typed empty file), or, in single naming, one file per
(height, kind).

``archive`` (SURVEY §3.1) makes one unit per chunk, clipped to the request,
and runs them all as ONE ``mapInPandas`` job with no shuffle
(``fetch_write``, also ``fix``'s Spark phase), where the reference loops
chunk by chunk. Within a unit a thread pool fetches the heights, so the
in-flight calls of all tasks stay at the kind's cap (``global.rs:59-97``).

``archive_single_blocks`` writes one file per (height, kind): a stream
batch of a few heights, where Spark job and task launches, not data, set
the latency. It is ONE ``mapInPandas`` job with no shuffle over a local
table listing each task's heights; a task writes its heights one at a
time, each as a one-height unit in single naming (fork twin included).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core.filenames import DataKind, range_file_path, single_file_path
from ..core.ranges import Range
from ..schemas import TABLE_SCHEMAS
from ..sources import ref_layout
from ..sources.fetcher import FetchPolicy, height_rows
from .runner import run_units

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


def _cap(policy: FetchPolicy, kinds) -> int:
    """The tightest fetch cap of ``kinds`` (kind names)."""
    caps = policy.thread_caps()
    return min({"blocks": caps.blocks, "transactions": caps.tx, "traces": caps.trace}[k]
               for k in kinds)


@dataclass(frozen=True)
class UnitWriter:
    """Fetch and write one unit: ``writer(lo, hi, kinds)`` returns the
    write-result row of every file it wrote or skipped.

    ``single`` names one file per (height, kind) instead of one range file
    per kind; ``forks`` then puts the block hash in the blocks files' names
    and gives a fork height its twin's file (T5). ``threads`` > 1 fetches a
    unit's heights on a pool of that many threads."""

    provider: object
    policy: FetchPolicy
    base: str
    run: str
    overwrite: bool = False
    maturity: str | None = None
    fmt: str = "parquet"
    compression: str = "zstd"
    single: bool = False
    forks: bool = False
    threads: int = 1

    def __call__(self, lo: int, hi: int, kinds) -> list[dict]:
        heights = range(lo, hi + 1)

        def fetch(h):
            return height_rows(self.provider, h, kinds, self.policy, self.forks)

        if self.threads > 1 and len(heights) > 1:
            with ThreadPoolExecutor(min(self.threads, len(heights))) as pool:
                fetched = list(pool.map(fetch, heights))
        else:
            fetched = [fetch(h) for h in heights]
        out = []
        for kind in kinds:
            dk = DataKind(kind)
            if not self.single:
                rel = range_file_path(Range(lo, hi), dk, fmt=self.fmt)
                out.append(self._write(rel, dk, [r for f in fetched for r in f[kind]], lo, hi))
                continue
            for h, f in zip(heights, fetched):
                if dk == DataKind.BLOCKS:
                    files = [([r], r["blockId"] if self.forks else None) for r in f[kind]]
                else:
                    files = [(f[kind], None)]
                for rows, name_hash in files:
                    rel = single_file_path(h, dk, block_hash=name_hash, fmt=self.fmt)
                    out.append(self._write(rel, dk, rows, h, h))
        return out

    def _write(self, rel: str, kind: DataKind, rows: list, lo: int, hi: int) -> dict:
        return ref_layout.write_file(
            self.base, rel, kind, pd.DataFrame(rows, columns=TABLE_SCHEMAS[kind.value].names),
            lo, hi, self.provider.blockchain_id, self.run, self.overwrite, self.maturity,
            self.fmt, self.compression)


def fetch_write(
    spark: SparkSession,
    provider,
    root: str,
    units: list,
    policy: FetchPolicy,
    run: str,
    overwrite: bool = False,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> list:
    """Fetch and write ``units`` (``[lo, hi, kind names]``, one range file
    per kind advertising ``lo``..``hi``) in ONE Spark job with no shuffle;
    returns the write-result rows.

    The job runs ``min(cap, units, defaultParallelism)`` tasks, ``cap``
    being the tightest fetch cap of the requested kinds, and each task
    fetches a unit's heights on ``cap // tasks`` threads: the in-flight
    calls stay at the cap, as under the reference's semaphores."""
    cap = _cap(policy, {k for u in units for k in u[2]})
    n = max(1, min(cap, len(units), spark.sparkContext.defaultParallelism))
    writer = UnitWriter(provider, policy, ref_layout._join_path(root, provider.blockchain_id.lower()),
                        run, overwrite=overwrite, fmt=fmt, compression=compression,
                        threads=max(1, cap // n))
    names = ref_layout.WRITE_RESULT_SCHEMA.names
    return run_units(spark, units, n, lambda u: pd.DataFrame(writer(*u), columns=names),
                     ref_layout.WRITE_RESULT_SCHEMA,
                     weight=lambda u: (u[1] - u[0] + 1) * len(u[2]))


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
    """Archive ``rng`` into reference-layout range files under ``root``: one
    file per (chunk, kind), each advertising its chunk clipped to ``rng``.

    ``fmt="avro"`` writes the reference's native Avro container format
    (schemas_avro) — byte-compatible with the reference tooling."""
    kinds = [k.value for k in tables]
    units = [[p.start, p.end, kinds] for p in rng.split_chunks(chunk)]
    return archive_result(spark, fetch_write(spark, provider, root, units, policy, run,
                                             overwrite, fmt, compression))


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
    kinds = [k.value for k in tables]
    heights = list(range(rng.start, rng.end + 1))
    n = max(1, min(_cap(policy, kinds), len(heights), spark.sparkContext.defaultParallelism))
    table = pd.DataFrame({"heights": [",".join(map(str, heights[i::n])) for i in range(n)]})
    writer = UnitWriter(provider, policy, ref_layout._join_path(root, provider.blockchain_id.lower()),
                        run, maturity=maturity, fmt=fmt, compression=compression, single=True,
                        forks=forks)
    names = ref_layout.WRITE_RESULT_SCHEMA.names

    def archive_task(batches):
        for pdf in batches:
            for hs in pdf["heights"]:
                yield pd.DataFrame([r for h in map(int, hs.split(","))
                                    for r in writer(h, h, kinds)], columns=names)

    rows = (
        spark.createDataFrame(table, "heights string")
        .mapInPandas(archive_task, schema=ref_layout.WRITE_RESULT_SCHEMA)
        .collect()
    )
    return archive_result(spark, rows)
