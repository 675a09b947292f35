"""``compact`` — merge single-block files into range files (reference
``src/command/compact.rs``, SURVEY §3.3 tail).

Two phases and one Spark job per call, however many chunks the scope spans
(the reference loops chunk by chunk, ``compact.rs:48-117``, which is fine
for its microsecond loop bodies but would serialize ~100 ms Spark job
launches; a 1M-block scope is 1,000 chunks).

Driver phase — plain Python over the inventory rows
(``sources.archive.inventory_rows``) with ``core.ranges``; no Spark job.
Only aligned chunks are considered (C2 — compaction never builds partial
range files, ``compact.rs:48``). Each chunk is skipped when (``verify_files``,
``compact.rs:221-243``):

1. every REQUESTED kind already has its exact-range file (foreign kinds
   don't count) — already compacted
2. a file crosses the chunk boundary
3. a kind's files do not merge into exactly the chunk
4. a (kind, range, hash) has more than one file — duplicates
5. a height has more than one single-block blocks file — an unresolved
   fork, which ``verify`` resolves against the live chain

A passing chunk gets a per-kind source list; a kind already held in its
exact-range file is kept as is (read for the reconciliation only, never
rewritten or deleted).

Spark phase — ONE ``mapInPandas`` job (``runner.run_units``) over the
passing chunks. A task takes its chunks one at a time: it reads the chunk's
files, reconciles them with ``core.content.island_stats``, the content
kernel ``verify`` also runs (A5/A7: the block heights are one island equal
to the chunk, one row each; J6: every block JSON is well formed and the
txids it lists == txids copied, as multisets), and only then writes each
rewritten kind's range file (tmp+rename). A chunk that fails the
reconciliation writes nothing and keeps its sources, so nothing is ever
rolled back. The driver then deletes the sources of the
compacted chunks (or swaps them out of the snapshot manifest).
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..core.content import island_stats
from ..core.filenames import DataKind, range_file_path
from ..core.ranges import Range, merge_ranges
from ..sources.archive import delete_files, inventory_rows
from .runner import run_units


@dataclass
class CompactResult:
    compacted_chunks: list[tuple[int, int]] = field(default_factory=list)
    skipped_chunks: list[tuple[int, int, str]] = field(default_factory=list)
    written: list[str] = field(default_factory=list)
    deleted: list[str] = field(default_factory=list)  # physically removed
    # snapshot mode: compacted-away sources leave the manifest but stay on
    # disk until vacuum — reported here, never under ``deleted``
    pruned_from_snapshot: list[str] = field(default_factory=list)
    snapshot_version: int | None = None


# kind -> (paths to read, rewrite?) for one passing chunk
ChunkPlan = dict[str, tuple[list[str], bool]]


def _verdict(files: list[tuple], c: Range, kinds: tuple[str, ...]) -> str | None:
    """The gate's skip reason for chunk ``c`` given the inventory rows of
    the requested kinds that intersect it, or None when it passes."""
    contained = [r for r in files if r[2] >= c.start and r[3] <= c.end]
    exact = {r[1] for r in contained if (r[2], r[3]) == (c.start, c.end)}
    if len(exact) == len(kinds):
        return "already compacted"
    if len(contained) < len(files):
        return "file range crosses chunk boundary"
    uncovered = [
        k for k in sorted(kinds)
        if merge_ranges(Range(r[2], r[3]) for r in contained if r[1] == k) != [c]
    ]
    if uncovered:
        return f"{uncovered[0]} does not exactly cover the chunk"
    if any(n > 1 for n in Counter((r[1], r[2], r[3], r[4]) for r in contained).values()):
        return "duplicate files in chunk"
    singles = Counter(r[2] for r in contained if r[1] == "blocks" and r[2] == r[3])
    if any(n > 1 for n in singles.values()):
        return "unresolved fork"
    return None


def _gate(
    rows: list[tuple], chunks: list[Range], kinds: tuple[str, ...], chunk: int
) -> tuple[list[tuple[int, int, str]], dict[tuple[int, int], ChunkPlan]]:
    """Every chunk's verdict from the inventory rows, on the driver.

    Returns the skipped chunks with their reasons and, per passing chunk,
    its plan: for each kind the source files to rewrite, or the exact-range
    file that is kept as is."""
    by_chunk: dict[int, list[tuple]] = {c.start // chunk: [] for c in chunks}
    lo, hi = min(by_chunk), max(by_chunk)
    for r in rows:
        if r[1] in kinds:
            for cid in range(max(r[2] // chunk, lo), min(r[3] // chunk, hi) + 1):
                by_chunk[cid].append(r)
    skipped, passing = [], {}
    for c in chunks:
        files = by_chunk[c.start // chunk]
        reason = _verdict(files, c, kinds)
        if reason is not None:
            skipped.append((c.start, c.end, reason))
            continue
        plan: ChunkPlan = {}
        for kind in kinds:
            mine = sorted(r[0] for r in files if r[1] == kind and (r[2], r[3]) != (c.start, c.end))
            exact = [r[0] for r in files if r[1] == kind and (r[2], r[3]) == (c.start, c.end)]
            plan[kind] = (exact, False) if exact else (mine, True)
        passing[(c.start, c.end)] = plan
    return skipped, passing


REWRITE_SCHEMA = T.StructType(
    [
        T.StructField("c_start", T.LongType(), False),
        T.StructField("c_end", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("location", T.StringType(), True),  # None: not written
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("h_min", T.LongType(), True),
        T.StructField("h_max", T.LongType(), True),
    ]
)


def _rewrite_chunk(base: str, c_start: int, c_end: int, plan: ChunkPlan, fmt: str,
                   compression: str, tx_field: str | None):
    """Read, reconcile and write one chunk; one result row per kind."""
    import pandas as pd

    from ..sources.avro_io import read_archive_pdf
    from ..sources.ref_layout import _commit, _serialize_group

    data = {}
    for kind, (paths, _write) in plan.items():
        rows = read_archive_pdf([os.path.join(base, p) for p in paths], kind)
        data[kind] = rows.sort_values(["height"] if kind == "blocks" else ["height", "index"])
    # A5/A7: the block heights are exactly the chunk, one row each; J6 (with
    # ``tx_field``): every block JSON is well formed and the txids it lists
    # equal the copied txids, as multisets
    s = island_stats(data, tx_field)
    ok = "blocks" not in data or (
        s["n_rows"] == s["n_heights"] == c_end - c_start + 1
        and (s["h_min"], s["h_max"]) == (c_start, c_end)
        and (tx_field is None or "transactions" not in data
             or (not s["bad_tx_list"] and s["transactions_same"])))
    out = []
    for kind, (_paths, write) in plan.items():
        rows, location = data[kind], None
        if ok and write:
            dk = DataKind(kind)
            location = os.path.join(base, range_file_path(Range(c_start, c_end), dk, fmt=fmt))
            _commit(location, _serialize_group(dk, rows, fmt, compression))
        n = len(rows)
        out.append((c_start, c_end, kind, ok, location, n,
                    int(rows["height"].min()) if n else None,
                    int(rows["height"].max()) if n else None))
    return pd.DataFrame(out, columns=REWRITE_SCHEMA.names)


def _rewrite(spark: SparkSession, base: str, passing: dict[tuple[int, int], ChunkPlan],
             fmt: str, compression: str, tx_field: str | None) -> list:
    """The fused rewrite: one job of at most ``defaultParallelism`` tasks,
    one result row per (chunk, kind)."""
    return run_units(
        spark, [[s, e, plan] for (s, e), plan in sorted(passing.items())],
        spark.sparkContext.defaultParallelism,
        lambda u: _rewrite_chunk(base, u[0], u[1], u[2], fmt, compression, tx_field),
        REWRITE_SCHEMA)


def compact(
    spark: SparkSession,
    root: str,
    blockchain: str,
    rng: Range,
    tables: tuple[DataKind, ...] = (DataKind.BLOCKS, DataKind.TRANSACTIONS),
    chunk: int = 1000,
    dry_run: bool = False,
    block_json_schema=None,
    tx_list_field: str = "transactions",
    snapshot: bool = False,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> CompactResult:
    base = os.path.join(root, blockchain.lower())
    kinds = tuple(k.value for k in tables)
    result = CompactResult()

    chunks = rng.split_chunks(chunk, aligned=True)
    if not chunks:
        return result
    result.skipped_chunks, passing = _gate(inventory_rows(root, blockchain), chunks, kinds, chunk)
    if not passing or dry_run:
        return result

    if snapshot:
        from ..sources import snapshots as SNAP
        from ..sources.archive import list_archive_files

        if SNAP.load_snapshot(base) is None:
            # first snapshot: adopt the pre-compact listing as v1 so the
            # merge has a base (metadata-scale walk, taken before any write)
            SNAP.publish_snapshot(base, list_archive_files(base), note="adopt pre-compact")

    # J6 needs the block JSON's tx-list key; without a schema it is skipped
    tx_field = tx_list_field if block_json_schema is not None else None
    rows = _rewrite(spark, base, passing, fmt, compression, tx_field)
    bad = {(r["c_start"], r["c_end"]) for r in rows if not r["ok"]}
    stats: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: (r["c_start"], r["kind"])):
        if r["location"] is not None:
            result.written.append(r["location"])
            if r["n_rows"]:
                rel = os.path.relpath(r["location"], base)
                stats[rel] = {"height": [r["h_min"], r["h_max"]]}

    to_delete: list[str] = []
    for key, plan in sorted(passing.items()):
        if key in bad:
            result.skipped_chunks.append((*key, "reconciliation failed"))
            continue
        result.compacted_chunks.append(key)
        to_delete.extend(p for paths, write in plan.values() if write for p in paths)

    if snapshot:
        # transactional commit (T5 upgrade): the consumed singles leave the
        # ARCHIVE atomically — one manifest swap replaces them with the new
        # range files — but stay on DISK until vacuum's retention window
        # expires, so readers pinned to an older snapshot keep working.
        # Optimistic-commit loop: a concurrent verify/curate publish between
        # the listing and this swap costs a retry, never a torn swap. The
        # rewrite rows carry each new file's height range, which keeps the
        # manifest's min/max skipping index current.
        snap = SNAP.merge_replace_with_retry(
            base,
            remove=sorted(to_delete),
            add=sorted(os.path.relpath(p, base) for p in result.written),
            note=f"compact {rng.start}..{rng.end}",
            add_stats=stats or None,
        )
        result.snapshot_version = snap.version
        parent = SNAP.load_snapshot(base, snap.parent)  # the actual CAS base
        result.pruned_from_snapshot = sorted(set(to_delete) & set(parent.files))
        return result
    result.deleted = delete_files(base, sorted(to_delete)).deleted
    return result
