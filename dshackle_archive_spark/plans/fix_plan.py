"""``fix`` — detect and re-archive missing data (reference
``src/command/fix.rs:39-69``).

The gap work list is computed on the driver with no Spark job: per kind,
the requested range minus every listed file's range
(``core.groups.missing_ranges`` over ``sources.archive.inventory_rows``,
i.e. ``core.ranges.subtract_ranges``; the inventory is one row per file,
metadata-scale). Each kind's gaps are cut at absolute chunk boundaries into
file pieces; overlapping pieces (of different kinds, inside one chunk) form
one unit. All units are then fetched and written in ONE Spark job with no
shuffle (``archive_plan.fetch_write``, ``overwrite=False`` so racing writers
keep existing files, S13): a task fetches each height of a unit once, for
the kinds missing there (``only_include``, P6), and writes each piece's file.
The reference loops gap by gap — fine for its in-process writes, but a
fragmented archive (thousands of small gaps) would serialize thousands of
~100 ms Spark job launches.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..core.filenames import DataKind
from ..core.groups import missing_ranges
from ..core.ranges import Range, merge_ranges
from ..sources.archive import inventory_rows
from ..sources.fetcher import FetchPolicy
from .archive_plan import ArchiveResult, archive_result, fetch_write


@dataclass
class FixResult:
    missing: list[tuple[str, int, int]]
    archived: list[ArchiveResult] = field(default_factory=list)
    snapshot_version: int | None = None


def fix(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    tables: tuple[DataKind, ...] = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES),
    chunk: int = 1000,
    policy: FetchPolicy = FetchPolicy(),
    dry_run: bool = False,
    snapshot: bool = False,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> FixResult:
    kinds = tuple(k.value for k in tables)
    missing = missing_ranges(
        inventory_rows(root, provider.blockchain_id), rng.start, rng.end, kinds
    )
    work = sorted(missing, key=lambda t: (t[1], t[0]))
    results: list[ArchiveResult] = []
    if not dry_run and work:
        by_kind: dict[str, list[Range]] = {}
        for kind, lo, hi in work:
            by_kind.setdefault(kind, []).append(Range(lo, hi))
        # file pieces: gaps cut at absolute chunk boundaries, so restored
        # files carry exactly the reference's names for those gaps; pieces
        # that overlap (all inside one chunk) share one unit, which fetches
        # each height once for every kind missing there
        pieces = sorted((p.start, p.end, kind) for kind, ranges in by_kind.items()
                        for r in merge_ranges(ranges) for p in r.split_chunks(chunk))
        units: list = []
        for lo, hi, kind in pieces:
            if not units or lo > units[-1][1]:
                units.append([lo, hi, {}])
            unit = units[-1]
            unit[1] = max(unit[1], hi)
            unit[2].setdefault(kind, []).append([lo, hi])
        rows = fetch_write(spark, provider, root, units, policy, run="fix", fmt=fmt,
                           compression=compression)
        for kind in by_kind:
            results.append(archive_result(spark, [r for r in rows if r["type"] == kind]))
    out = FixResult(missing=work, archived=results)
    if snapshot and not dry_run:
        # add-only manifest commit: the repaired files join the archive in
        # one swap, so a reader re-pinning mid-fix sees either the gap or
        # the full repair — never a partially restored kind
        import os

        from ..sources import snapshots as SNAP
        from ..sources.archive import list_archive_files

        from ..sources.ref_layout import strip_userinfo

        base = os.path.join(root, provider.blockchain_id.lower())
        cur = SNAP.load_snapshot(base)
        # result locations are credential-stripped; relativize against the
        # equally-stripped base so URI dirs with userinfo still line up
        new_files = sorted(
            os.path.relpath(f, strip_userinfo(base)) for r in results for f in r.files
        )
        if cur is None:
            pre = sorted(set(list_archive_files(base)) - set(new_files))
            cur = SNAP.publish_snapshot(base, pre, note="adopt pre-fix")
        # add-only merge, but still CAS'd: a concurrent publish costs a retry
        snap = SNAP.merge_replace_with_retry(
            base, remove=[], add=new_files,
            note=f"fix {rng.start}..{rng.end}",
        )
        out.snapshot_version = snap.version
    return out
