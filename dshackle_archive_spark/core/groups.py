"""Range groups over file-inventory rows: the driver-side metadata kernel of
``verify`` and ``fix``.

An archive inventory is one ``(path, kind, start, end, hash)`` row per file
(``sources.archive.inventory_rows``), a few dozen rows per chunk. The
metadata work of verify and fix is interval algebra over those rows —
grouping files by (range, hash), picking the largest of overlapping groups,
merging small groups into islands, listing per-kind gaps — and runs here in
plain Python on top of ``core.ranges``, with no Spark job.

Each function has a DataFrame twin in ``operators.inventory``
(``group_ranges``, ``dedup_largest_covering``, ``merge_small_ranges``,
``find_incomplete_tables``), the distributed form for inventories too large
for the driver; a property test holds each pair to the same output.
"""

from __future__ import annotations

from bisect import bisect_right
from typing import Iterable

from .ranges import Range, merge_ranges, subtract_ranges

# (start, end, hash) — hash is '' for files without a fork qualifier
Key = tuple[int, int, str]


def group_files(rows: Iterable[tuple]) -> dict[Key, dict[str, list[str]]]:
    """J3: files grouped by (start, end, hash), each group as kind → sorted
    paths, in key order. A group holds every kind it has files of; more than
    one path for a kind is the duplicate state."""
    groups: dict[Key, dict[str, list[str]]] = {}
    for path, kind, start, end, h in rows:
        groups.setdefault((start, end, h or ""), {}).setdefault(kind, []).append(path)
    for files in groups.values():
        for paths in files.values():
            paths.sort()
    return dict(sorted(groups.items()))


def largest_covering(keys: Iterable[Key]) -> set[Key]:
    """W3: of groups whose ranges overlap (touching is not overlapping), keep
    the one covering the most blocks, ties to the lower start, then the
    lower hash. Returns the kept keys; every other key lost an overlap."""
    keep: set[Key] = set()
    best: Key | None = None
    max_end = -1
    for key in sorted(keys):
        start, end, h = key
        if best is None or start > max_end:
            if best is not None:
                keep.add(best)
            best, max_end = key, end
            continue
        max_end = max(max_end, end)
        if (start - end, start, h) < (best[0] - best[1], best[0], best[2]):
            best = key
    if best is not None:
        keep.add(best)
    return keep


def small_islands(
    ranges: Iterable[tuple[int, int]], threshold: int = 10
) -> list[tuple[Range, list[tuple[int, int]]]]:
    """W4: ranges of at most ``threshold`` blocks merge with touching or
    overlapping small neighbours into one island; larger ranges are islands
    of their own. Returns ``(island, sorted member ranges)`` in island
    order."""
    distinct = set(ranges)
    small = sorted(r for r in distinct if r[1] - r[0] + 1 <= threshold)
    merged = merge_ranges(Range(s, e) for s, e in small)
    starts = [m.start for m in merged]
    members: list[list[tuple[int, int]]] = [[] for _ in merged]
    for s, e in small:
        members[bisect_right(starts, s) - 1].append((s, e))
    out = list(zip(merged, members))
    out += [(Range(s, e), [(s, e)]) for s, e in distinct if e - s + 1 > threshold]
    return sorted(out, key=lambda t: (t[0].start, t[0].end))


def missing_ranges(
    rows: Iterable[tuple], lo: int, hi: int, kinds: tuple[str, ...]
) -> list[tuple[str, int, int]]:
    """A3+A4: per kind, the ranges of ``[lo, hi]`` that no file of that kind
    covers (the reference's requested − covered), as ``(kind, start, end)``."""
    covered: dict[str, list[Range]] = {k: [] for k in kinds}
    for _path, kind, start, end, _h in rows:
        if kind in covered:
            covered[kind].append(Range(start, end))
    return [
        (k, r.start, r.end)
        for k in kinds
        for r in subtract_ranges([Range(lo, hi)], covered[k])
    ]
