"""Archive files as the benchmark sees them: listing, name parsing, sizes,
parquet contents, and applying a damage plan to an Avro archive.

The name grammar is restated here rather than imported, so the checks do
not trust the code they check.
"""

from __future__ import annotations

import os
import re

from .inputs import KINDS, DamagePlan

SINGLE = re.compile(
    r"(\d+)(?:\.([0-9a-f]{64}))?\.(block|txes|traces)(?:\.\w+)?\.(avro|parquet)$"
)
RANGE = re.compile(r"range-(\d+)_(\d+)\.(blocks|txes|traces)(?:\.\w+)?\.(avro|parquet)$")
EXT_KIND = {"block": "blocks", "blocks": "blocks", "txes": "transactions", "traces": "traces"}
KIND_EXT = {"blocks": "blocks", "transactions": "txes", "traces": "traces"}
CHAIN_DIR = "eth"  # MockChain's blockchain id, lower-cased


def chain_dir(root: str) -> str:
    return os.path.join(root, CHAIN_DIR)


def listing(root: str) -> list[str]:
    """Relative paths of every file under the chain directory."""
    base = chain_dir(root)
    out = []
    for d, _dirs, fs in os.walk(base):
        out.extend(os.path.relpath(os.path.join(d, f), base) for f in fs)
    return sorted(out)


def parse(rel: str) -> tuple[str, int, int, bool] | None:
    """``(kind, start, end, is_single)`` of an archive file name."""
    name = rel.rsplit("/", 1)[-1]
    m = SINGLE.fullmatch(name)
    if m:
        h = int(m.group(1))
        return EXT_KIND[m.group(3)], h, h, True
    m = RANGE.fullmatch(name)
    if m:
        return EXT_KIND[m.group(3)], int(m.group(1)), int(m.group(2)), False
    return None


def total_bytes(root: str) -> int:
    base = chain_dir(root)
    return sum(os.path.getsize(os.path.join(base, p)) for p in listing(root))


def by_kind(root: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {k: [] for k in KINDS}
    for rel in listing(root):
        p = parse(rel)
        if p is not None:
            out[p[0]].append(os.path.join(chain_dir(root), rel))
    return out


def parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


def parquet_column(paths: list[str], column: str) -> list:
    import pyarrow.parquet as pq

    out: list = []
    for p in paths:
        out.extend(pq.read_table(p, columns=[column]).column(column).to_pylist())
    return out


def range_file(root: str, start: int, end: int, kind: str) -> str:
    l1 = start // 1_000_000 * 1_000_000
    return os.path.join(
        chain_dir(root), f"{l1:09d}", f"range-{start:09d}_{end:09d}.{KIND_EXT[kind]}.avro"
    )


def apply_damage(root: str, plan: DamagePlan) -> None:
    """Damage an Avro archive of aligned ``plan.chunk``-block groups."""
    from dshackle_archive_spark.sources.avro_io import (
        read_avro_records,
        read_avro_schema,
        write_avro_records,
    )

    def group_file(g: int, kind: str) -> str:
        return range_file(root, g, plan.group_end(g), kind)

    for g in plan.gaps:
        for kind in plan.kinds:
            os.remove(group_file(g, kind))
    for g, kind in plan.partial:
        os.remove(group_file(g, kind))
    for ov in plan.overlaps:
        host = ov.start - ov.start % plan.chunk
        for kind in plan.kinds:
            src = group_file(host, kind)
            recs = [r for r in read_avro_records(src) if ov.start <= r["height"] <= ov.end]
            write_avro_records(
                range_file(root, ov.start, ov.end, kind), read_avro_schema(src), recs,
                codec="zstandard",
            )
    for b in plan.broken:
        path = group_file(b.group, "blocks")
        recs = list(read_avro_records(path))
        recs[b.index]["parentId"] = "0" * 64  # no block has this hash
        write_avro_records(path, read_avro_schema(path), recs, codec="zstandard")
