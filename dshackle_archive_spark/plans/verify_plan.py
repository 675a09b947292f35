"""``verify`` — integrity audit with destructive repair (reference
``src/command/verify.rs:409-477`` lifecycle, SURVEY §3.3).

Two phases.

Driver phase — plain Python over the inventory rows of the scope
(``sources.archive.inventory_rows``, a few dozen per chunk) with the
``core.groups`` kernel; no Spark job:

1. inventory in scope (P2 range-intersection filter), capped at
   ``$SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS`` rows
2. duplicate same-kind files per (range, hash) → those files deleted (J3)
3. fork resolution for single-block groups: keep the hash matching the live
   chain, delete losers (J4); a height's hashless single files (txes and
   traces carry no hash in their name) then join its surviving hash group
4. overlapping ranges → keep largest covering (W3)
5. completeness: groups missing expected kinds → skipped (or deleted with
   ``fix_clean``) (A4)
6. surviving groups of ≤10 blocks merge into islands (W4); the files to
   read are listed per island

Spark phase — ONE ``mapInPandas`` job (``runner.run_units``) of at most
``defaultParallelism`` tasks, islands weighted by their heights. A task
reads each of its islands' files (``avro_io.read_archive_pdf``: pyarrow for
parquet, the container codec for Avro) and counts with
``core.content.island_stats``, the kernel ``compact`` also runs; one stats
row per island comes back and the verdicts are drawn on the driver:

7. blocks — dup heights (A5), count==range (A6), parent-hash chain linkage
   across the island (W1), payload non-empty/non-"null" (P5), head hash vs
   live chain (J5, looked up on the driver);
   txes/traces — the txids the blocks' JSON lists against the txids the
   files hold: missing and unexpected txids (J1/J2), duplicates, payload
   null checks
8. failing islands → all their member groups' files deleted, honoring
   dry-run (or pruned from the snapshot)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..core.content import TX_COUNTS, TX_PAYLOADS, island_stats
from ..core.filenames import DataKind
from ..core.groups import group_files, largest_covering, small_islands
from ..core.ranges import Range
from ..sources.archive import delete_files, inventory_rows
from .runner import run_units


@dataclass
class VerifyReport:
    scope: Range
    groups_total: int = 0
    groups_ok: int = 0
    failures: list[dict] = field(default_factory=list)  # per failing group
    deleted: list[str] = field(default_factory=list)  # physically removed
    # snapshot mode removes nothing from disk — losers drop out of the new
    # manifest and persist until vacuum, so they are reported here, not
    # under ``deleted``
    pruned_from_snapshot: list[str] = field(default_factory=list)
    dry_run: bool = False
    snapshot_version: int | None = None


# verify holds only per-chunk metadata on the driver (the in-scope inventory
# rows, group keys, delete lists), sized by chunking, never by data volume:
# a scope past this many inventory rows fails loudly instead
VERIFY_DRIVER_ROWS_ENV = "SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS"
DEFAULT_VERIFY_DRIVER_ROWS = 100_000

# W4 (verify.rs:237-267): adjacent groups of at most this many blocks are
# content-checked as one island, so the parent-hash chain check spans file
# boundaries (a break between two 10-block files is invisible per group)
SMALL_GROUP_BLOCKS = 10
TX_REASONS = {"transactions": "txes_content", "traces": "traces_content"}


@dataclass
class _Triage:
    """The driver phase's verdicts and the content work it leaves."""

    groups_total: int = 0
    failures: list[dict] = field(default_factory=list)
    to_delete: set[str] = field(default_factory=set)
    failed_keys: set[tuple[int, int]] = field(default_factory=set)
    # island -> kind -> paths of its surviving files of the requested kinds
    reads: dict[tuple[int, int], dict[str, list[str]]] = field(default_factory=dict)
    # island -> (path, group start, group end) of its member groups' files
    island_files: dict[tuple[int, int], list[tuple[str, int, int]]] = field(
        default_factory=dict
    )


def _triage(rows, rng: Range, kinds: tuple[str, ...], live_hash, fix_clean: bool) -> _Triage:
    """Steps 1-6 over the inventory rows; ``live_hash(height)`` is the live
    chain's block hash (or None when unknown)."""
    from ..core.env import env_int

    cap = env_int(VERIFY_DRIVER_ROWS_ENV, DEFAULT_VERIFY_DRIVER_ROWS)
    scoped = [r for r in rows if r[3] >= rng.start and r[2] <= rng.end]
    if len(scoped) > cap:
        raise RuntimeError(
            f"verify driver inventory for the scope exceeds {cap} rows — verify "
            "is designed to run per-chunk; narrow the scope (--range-chunk) "
            f"or raise ${VERIFY_DRIVER_ROWS_ENV}"
        )
    groups = group_files(scoped)
    out = _Triage(groups_total=len(groups))
    pruned: list[tuple[tuple, str, list[str]]] = []  # (key, reason, files)

    def every_path(files: dict[str, list[str]]) -> list[str]:
        return [p for paths in files.values() for p in paths]

    # 2. duplicates delete ONLY the files of the duplicated kind(s) (reference
    # RangeGroupError::Duplicate, verify.rs:434-457) — an innocent txes file
    # survives when only the blocks kind is doubled
    alive: dict[tuple, dict[str, list[str]]] = {}
    for key, files in groups.items():
        dup = [p for k in kinds if len(files.get(k, ())) > 1 for p in files[k]]
        if dup:
            pruned.append((key, "duplicate", dup))
        else:
            alive[key] = files

    # 3. fork resolution (J4): a height with several single-block variants
    # keeps the one matching the live chain
    variants: dict[int, list[tuple]] = {}
    for key in alive:
        if key[0] == key[1]:
            variants.setdefault(key[0], []).append(key)
    for height, keys in variants.items():
        if len(keys) < 2:
            continue
        live = live_hash(height)
        for key in keys:
            if key[2] and live is not None and key[2] != live:
                pruned.append((key, "fork_loser", every_path(alive.pop(key))))
        # only blocks files carry the hash in their name: the height's
        # hashless files of other kinds belong to its surviving hash group
        hashed = [k for k in keys if k[2] and k in alive]
        bare = (height, height, "")
        if len(hashed) == 1 and bare in alive and alive[bare].keys().isdisjoint(alive[hashed[0]]):
            alive[hashed[0]].update(alive.pop(bare))
            out.groups_total -= 1

    # 4. overlapping ranges → keep the largest covering (W3)
    keep = largest_covering(alive)
    for key in alive:
        if key not in keep:
            pruned.append((key, "overlap_loser", every_path(alive[key])))

    # 5. completeness (A4)
    survivors = {}
    for key in sorted(keep):
        if all(k in alive[key] for k in kinds):
            survivors[key] = alive[key]
        else:
            pruned.append((key, "incomplete", every_path(alive[key])))

    for (start, end, _h), reason, paths in pruned:
        if reason != "incomplete" or fix_clean:
            out.to_delete.update(paths)
        out.failed_keys.add((start, end))
        out.failures.append({"start": start, "end": end, "reason": reason})

    # 6. islands (W4): each island's files are read together
    islands = small_islands(((s, e) for s, e, _h in survivors), SMALL_GROUP_BLOCKS)
    island_of = {m: isl for isl, members in islands for m in members}
    for (start, end, _h), files in survivors.items():
        isl = island_of[(start, end)]
        members = out.island_files.setdefault((isl.start, isl.end), [])
        reads = out.reads.setdefault((isl.start, isl.end), {})
        for kind, paths in files.items():
            members.extend((p, start, end) for p in paths)
            if kind in kinds:
                reads.setdefault(kind, []).extend(paths)
    return out


CONTENT_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType(), False)
     for c in ("g_start", "g_end", "n_rows", "n_heights", "broken_links", "bad_json", "n_expected")]
    + [T.StructField("top_id", T.StringType(), True)]
    + [T.StructField(f"{k}_{c}", T.LongType(), False) for k in TX_PAYLOADS for c in TX_COUNTS]
)


def _island_row(base: str, unit: list, tx_field: str | None):
    """Read one island's files (``[g_start, g_end, {kind: paths}]``) and
    return its stats row."""
    import pandas as pd

    from ..sources.avro_io import read_archive_pdf

    s, e, files = unit
    frames = {k: read_archive_pdf([os.path.join(base, p) for p in paths], k)
              for k, paths in files.items()}
    row = {**dict.fromkeys(CONTENT_SCHEMA.names, 0), **island_stats(frames, tx_field),
           "g_start": s, "g_end": e}
    return pd.DataFrame([row], columns=CONTENT_SCHEMA.names)


def _check_islands(spark, provider, base: str, reads, kinds: tuple[str, ...]) -> list[dict]:
    """Step 7: one ``run_units`` job, one task reading and checking whole
    islands, one stats row per island; the verdicts are drawn on the
    driver."""
    if "blocks" not in kinds or not reads:
        return []
    # every island holds every requested kind (step 5)
    checked = [k for k in TX_PAYLOADS if k in kinds]
    # the tx-list key is per chain: ETH "transactions", BTC "tx" (P4)
    tx_field = getattr(provider, "tx_list_field", "transactions") if checked else None
    stats = sorted(
        run_units(spark, [[s, e, files] for (s, e), files in sorted(reads.items())],
                  spark.sparkContext.defaultParallelism,
                  lambda u: _island_row(base, u, tx_field), CONTENT_SCHEMA,
                  weight=lambda u: u[1] - u[0] + 1),
        key=lambda r: (r["g_start"], r["g_end"]))

    failures = []
    for r in stats:
        if not r["n_rows"]:  # no block rows: nothing to judge
            continue
        s, e = r["g_start"], r["g_end"]
        live = provider.block_hash(e)  # J5 head-hash confirmation
        ok = (
            r["n_rows"] == r["n_heights"] == e - s + 1  # A5 no dup heights, A6 count
            and r["broken_links"] == 0  # W1
            and r["bad_json"] == 0  # P5
            and (r["top_id"] is None or live is None or r["top_id"] == live)  # J5
        )
        if not ok:
            failures.append(
                {
                    "start": s,
                    "end": e,
                    "reason": "blocks_content",
                    "broken_links": r["broken_links"],
                    "bad_json": r["bad_json"],
                }
            )
    for kind in checked:
        for r in stats:
            # only islands whose blocks list transactions are judged
            if not r["n_expected"]:
                continue
            counts = [r[f"{kind}_{c}"] for c in TX_COUNTS]
            if any(counts):
                f = {"start": r["g_start"], "end": r["g_end"], "reason": TX_REASONS[kind]}
                if kind == "transactions":
                    f.update(n_missing=counts[0], n_unexpected=counts[1])
                failures.append(f)
    return failures


def verify(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    tables: tuple[DataKind, ...] = (DataKind.BLOCKS, DataKind.TRANSACTIONS),
    fix_clean: bool = False,
    dry_run: bool = False,
    snapshot: bool = False,
) -> VerifyReport:
    blockchain = provider.blockchain_id
    base = os.path.join(root, blockchain.lower())
    kinds = tuple(k.value for k in tables)
    report = VerifyReport(scope=rng, dry_run=dry_run)

    tri = _triage(inventory_rows(root, blockchain), rng, kinds, provider.block_hash, fix_clean)
    report.groups_total = tri.groups_total
    report.failures = tri.failures
    to_delete, failed_keys = tri.to_delete, tri.failed_keys

    content = _check_islands(spark, provider, base, tri.reads, kinds)
    report.failures.extend(content)
    # 8. failing islands → delete all their member groups' files
    for isl in {(f["start"], f["end"]) for f in content}:
        for path, start, end in tri.island_files[isl]:
            to_delete.add(path)
            failed_keys.add((start, end))

    report.groups_ok = report.groups_total - len(failed_keys)
    if snapshot and not dry_run:
        # fork MERGE (T5 transactional upgrade): every pruned file — fork
        # losers, duplicates, overlap losers — leaves the archive in ONE
        # manifest swap; a reader pinned mid-query keeps a consistent chain.
        # Files stay on disk for older pins until vacuum.
        from ..sources import snapshots as SNAP
        from ..sources.archive import list_archive_files

        cur = SNAP.load_snapshot(base)
        if cur is None:
            cur = SNAP.publish_snapshot(
                base, sorted(list_archive_files(base)), note="adopt pre-verify"
            )
        if to_delete:
            # optimistic-commit loop: a concurrent compact/curate publish
            # between our inventory read and this swap costs a retry, not
            # a torn archive (the prune intent re-applies to the new base)
            snap = SNAP.merge_replace_with_retry(
                base,
                remove=sorted(to_delete),
                add=[],
                note=f"verify prune {rng.start}..{rng.end}",
            )
            report.snapshot_version = snap.version
        else:
            report.snapshot_version = cur.version
        report.pruned_from_snapshot = sorted(to_delete)
    else:
        res = delete_files(base, sorted(to_delete), dry_run=dry_run)
        report.deleted = res.deleted
    return report
