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
6. surviving groups of ≤10 blocks merge into islands (W4); every file to
   read is tagged with its island

Spark phase — ONE fused content query over the surviving files, each row
carrying its island's ``g_start``/``g_end`` from the read, with one collect
of one stats row per island and check:

7. blocks — dup heights (A5), count==range (A6), parent-hash chain linkage
   across the island (W1), payload non-empty/non-"null" (P5), head hash vs
   live chain (J5, compared on the driver);
   txes/traces — one tagged union of the txids the blocks' JSON expects
   and the txids the files hold, grouped by (island, txid): missing and
   unexpected txids (J1/J2), duplicates, payload null checks
8. failing islands → all their member groups' files deleted, honoring
   dry-run (or pruned from the snapshot)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.filenames import DataKind
from ..core.groups import group_files, largest_covering, small_islands
from ..core.ranges import Range
from ..sources.archive import delete_files, inventory_rows


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


def _payload_invalid(col: str) -> F.Column:
    c = F.col(col)
    return c.isNull() | (F.length(c) == 0) | (c.cast("string") == "null")


VERIFY_DRIVER_ROWS_ENV = "SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS"
DEFAULT_VERIFY_DRIVER_ROWS = 100_000


def _bounded_collect(df: DataFrame, what: str) -> list:
    """Collect driver-side verify metadata under an ENFORCED ceiling.

    The driver-state invariant: ``verify`` holds only PER-CHUNK metadata —
    the in-scope inventory, group keys, chunk-end scalars, delete lists —
    whose size is set by chunking discipline (≤ ~1000 files per chunk at
    reference layout), never by data volume. The cap
    (``$SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS``, default 100k — two orders
    above any disciplined chunk) bounds the in-scope inventory rows of
    ``verify`` (checked in ``_triage``) and this collect, where it is
    pushed into the plan as a LIMIT, so an absurd scope fails loudly after
    cap+1 rows instead of OOMing."""
    from ..core.env import env_int

    cap = env_int(VERIFY_DRIVER_ROWS_ENV, DEFAULT_VERIFY_DRIVER_ROWS)
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"verify driver inventory for {what} exceeds {cap} rows — verify "
            "is designed to run per-chunk; narrow the scope (--range-chunk) "
            f"or raise ${VERIFY_DRIVER_ROWS_ENV}"
        )
    return rows


def verify_native(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    chunk: int = 1000,
) -> DataFrame:
    """Content verification over the native partitioned-parquet layout.

    The same checks as the file-layout verify — dup heights (A5), count ==
    range (A6), parent-hash linkage (W1), payload validity (P5), head-hash
    confirmation (J5), txid set equality (J1) — expressed over the
    partitioned ``blocks``/``transactions`` tables, grouped by aligned chunk.
    Returns one row per chunk with failure counters and an ``ok`` verdict;
    partition pruning bounds every scan to the requested range.
    """
    from ..sources.archive import read_table

    blocks = read_table(spark, root, provider.blockchain_id, "blocks", rng)
    txes = read_table(spark, root, provider.blockchain_id, "transactions", rng)
    ck = (F.floor(F.col("height") / chunk) * chunk).cast("long")
    w = Window.partitionBy("g_start").orderBy("height")
    b = blocks.withColumn("g_start", ck)
    linked = b.withColumn("prev_id", F.lag("blockId").over(w)).withColumn(
        "broken",
        F.when(
            F.col("prev_id").isNotNull() & (F.col("parentId") != F.col("prev_id")), 1
        ).otherwise(0),
    )
    ends = linked.groupBy("g_start").agg(F.max("height").alias("g_end"))
    lookup = spark.createDataFrame(
        [(int(r["g_end"]), provider.block_hash(int(r["g_end"])))
         for r in _bounded_collect(ends, "chunk-end list")],
        "g_end long, live_hash string",
    )
    blocks_stat = (
        linked.groupBy("g_start")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("height").alias("n_heights"),
            F.max("height").alias("g_end"),
            F.sum("broken").alias("broken_links"),
            F.sum(F.when(_payload_invalid("json"), 1).otherwise(0)).alias("bad_json"),
            F.max(F.struct("height", "blockId")).alias("top"),
        )
        .join(F.broadcast(lookup), "g_end", "left")
    )
    tx_field = getattr(provider, "tx_list_field", "transactions")
    expected = b.select(
        "g_start",
        F.explode_outer(
            F.from_json(F.col("json").cast("string"), provider.block_json_schema)[
                tx_field
            ]
        ).alias("txid"),
    ).filter(F.col("txid").isNotNull())
    actual = txes.withColumn("g_start", ck).select("g_start", "txid")
    tx_missing = (
        expected.join(actual, ["g_start", "txid"], "left_anti")
        .groupBy("g_start")
        .agg(F.count("*").alias("tx_missing"))
    )
    tx_unexpected = (
        actual.join(expected, ["g_start", "txid"], "left_anti")
        .groupBy("g_start")
        .agg(F.count("*").alias("tx_unexpected"))
    )
    return (
        blocks_stat.join(tx_missing, "g_start", "left")
        .join(tx_unexpected, "g_start", "left")
        .fillna(0, ["tx_missing", "tx_unexpected"])
        .withColumn(
            "ok",
            (F.col("n_rows") == F.col("n_heights"))
            & (F.col("broken_links") == 0)
            & (F.col("bad_json") == 0)
            & (F.col("top.blockId") == F.col("live_hash"))
            & (F.col("tx_missing") == 0)
            & (F.col("tx_unexpected") == 0),
        )
        .select(
            "g_start", "g_end", "n_rows", "n_heights", "broken_links", "bad_json",
            "tx_missing", "tx_unexpected", "ok",
        )
    )


ISLAND = ["g_start", "g_end"]
# W4 (verify.rs:237-267): adjacent groups of at most this many blocks are
# content-checked as one island, so the parent-hash chain check spans file
# boundaries (a break between two 10-block files is invisible per group)
SMALL_GROUP_BLOCKS = 10
# payload columns whose null/empty/"null" values fail a txid kind (P5)
TX_PAYLOADS = {"transactions": ("json", "raw"), "traces": ("traceJson", "stateDiffJson")}
TX_REASONS = {"transactions": "txes_content", "traces": "traces_content"}


@dataclass
class _Triage:
    """The driver phase's verdicts and the content work it leaves."""

    groups_total: int = 0
    failures: list[dict] = field(default_factory=list)
    to_delete: set[str] = field(default_factory=set)
    failed_keys: set[tuple[int, int]] = field(default_factory=set)
    # kind -> (path, island start, island end) of every surviving file
    reads: dict[str, list[tuple[str, int, int]]] = field(default_factory=dict)
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

    # 6. islands (W4): each surviving file is read tagged with its island
    out.reads = {k: [] for k in kinds}
    islands = small_islands(((s, e) for s, e, _h in survivors), SMALL_GROUP_BLOCKS)
    island_of = {m: isl for isl, members in islands for m in members}
    for (start, end, _h), files in survivors.items():
        isl = island_of[(start, end)]
        members = out.island_files.setdefault((isl.start, isl.end), [])
        for kind, paths in files.items():
            members.extend((p, start, end) for p in paths)
            if kind in out.reads:
                out.reads[kind].extend((p, isl.start, isl.end) for p in paths)
    return out


def _read_kind(spark, base: str, files: list[tuple[str, int, int]] | None, kind: str):
    """Lazy read of one kind's files, every row carrying its file's island
    as ``g_start``/``g_end``; None when there is nothing to read."""
    from pyspark.sql import types as T

    from ..sources.avro_io import read_archive_data

    if not files:
        return None
    return read_archive_data(
        spark,
        [(os.path.join(base, p), s, e) for p, s, e in files],
        kind,
        file_cols=[T.StructField(c, T.LongType(), False) for c in ISLAND],
    )


def _content_failures(spark, provider, base: str, reads, kinds: tuple[str, ...]) -> list[dict]:
    """Step 7: one fused Spark query and one collect of one stats row per
    island; the verdicts are drawn on the driver.

    Every file is decoded once. Each block row becomes a tagged union row
    (``tag`` -1) plus one row per txid its JSON lists (``tag`` 0, expected);
    the files of the i-th checked txid kind add their rows with ``tag`` i.
    One exchange hashed on (island, is_block, txid) feeds both the height
    window of the linkage check — block rows carry a null txid, so an
    island's blocks meet in one window partition — and the per-(island,
    txid) aggregate, so the txid set work spreads over the shuffle
    partitions rather than one task per island. A second exchange, of
    partial aggregates, gives one row per island."""
    bdf = _read_kind(spark, base, reads.get("blocks"), "blocks")
    if bdf is None:
        return []
    actual, checked = [], []
    for kind, payload in TX_PAYLOADS.items():
        tdf = _read_kind(spark, base, reads.get(kind), kind)
        if tdf is None:
            continue
        checked.append(kind)
        bad = None
        for c in payload:
            bad = _payload_invalid(c) if bad is None else (bad | _payload_invalid(c))
        actual.append(
            tdf.select(
                *ISLAND,
                F.lit(False).alias("is_block"),
                F.lit(len(checked)).alias("tag"),
                "txid",
                bad.alias("bad"),
            )
        )

    # slot 0 is the block itself, slots 1.. the txids its JSON lists; the
    # tx-list key is per chain — ETH "transactions", BTC "tx" (P4)
    slots = F.array(F.lit(None).cast("string"))
    if checked:
        tx_field = getattr(provider, "tx_list_field", "transactions")
        listed = F.from_json(F.col("json").cast("string"), provider.block_json_schema)[tx_field]
        slots = F.concat(slots, F.coalesce(listed, F.array().cast("array<string>")))
    block = F.col("pos") == 0
    rows = (
        bdf.select(
            *ISLAND,
            "height",
            "blockId",
            "parentId",
            _payload_invalid("json").alias("bad_json"),
            F.posexplode(slots).alias("pos", "txid"),
        )
        .filter(block | F.col("txid").isNotNull())
        .select(
            *ISLAND,
            block.alias("is_block"),
            F.when(block, -1).otherwise(0).alias("tag"),
            "txid",
            (block & F.col("bad_json")).alias("bad"),
            *(F.when(block, F.col(c)).alias(c) for c in ("height", "blockId", "parentId")),
        )
    )
    for a in actual:
        rows = rows.unionByName(a, allowMissingColumns=True)

    is_block, tag, height = F.col("is_block"), F.col("tag"), F.col("height")
    key = [*ISLAND, "is_block", "txid"]
    w = Window.partitionBy(*key).orderBy("height")
    prev_id, prev_h = F.lag("blockId").over(w), F.lag("height").over(w)
    linked = (
        rows.withColumn("broken", is_block & prev_id.isNotNull() & (F.col("parentId") != prev_id))
        .withColumn(
            "new_height",
            is_block & height.isNotNull() & (prev_h.isNull() | (height != prev_h)),
        )
    )
    n = range(1, len(checked) + 1)
    per_txid = linked.groupBy(*key).agg(
        F.count_if(is_block).alias("n_rows"),
        F.count_if("new_height").alias("n_heights"),
        F.count_if("broken").alias("broken_links"),
        F.count_if(is_block & F.col("bad")).alias("bad_json"),
        F.max(F.when(is_block, F.struct("height", "blockId"))).alias("top"),
        F.count_if(tag == 0).alias("n_exp"),
        *(F.count_if(tag == i).alias(f"n_{i}") for i in n),
        *(F.count_if((tag == i) & F.col("bad")).alias(f"bad_{i}") for i in n),
    )
    tx, n_exp = ~is_block, F.col("n_exp")
    aggs = [
        *(F.sum(c).alias(c) for c in ("n_rows", "n_heights", "broken_links", "bad_json")),
        F.max("top")["blockId"].alias("top"),
        F.sum(n_exp).alias("n_expected"),
    ]
    for i, kind in zip(n, checked):
        got = F.col(f"n_{i}")
        aggs += [
            F.sum(F.when(tx & (got == 0), n_exp).otherwise(0)).alias(f"{kind}_missing"),
            F.sum(F.when(tx & (n_exp == 0), got).otherwise(0)).alias(f"{kind}_unexpected"),
            F.count_if(tx & (got > 1)).alias(f"{kind}_dup"),
            F.sum(f"bad_{i}").alias(f"{kind}_bad_payload"),
        ]
    stats = sorted(
        per_txid.groupBy(*ISLAND).agg(*aggs).collect(), key=lambda r: (r["g_start"], r["g_end"])
    )

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
            and (r["top"] is None or live is None or r["top"] == live)  # J5
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
            counts = [r[f"{kind}_{c}"] for c in ("missing", "unexpected", "dup", "bad_payload")]
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

    content = _content_failures(spark, provider, base, tri.reads, kinds)
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
