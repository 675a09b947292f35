#!/usr/bin/env python
"""Subprocess body for the closed-loop verify→fix chaos leg (round-11 task).

Every durability probe so far targeted ONE operator; this one runs the
reference lifecycle END-TO-END under the failure mode its pieces exist for:

1. ``archive`` a range (blocks + txes, chunked) on real executor JVMs
   (``local-cluster[2,2,2048]``);
2. (chaos mode) damage a MIX of files — delete one chunk's txes file
   (incomplete group) and corrupt another chunk's blocks file (broken
   parent-hash linkage at one height);
3. ``verify --snapshot --fix.clean`` — and, in chaos mode, SIGKILL every
   live executor DURING the content checks (as soon as the content job has
   a running stage, so its tasks hit dead executors and must survive via
   standalone-worker respawn + task retry; a job that ends before the
   watcher sees it leaves ``killed`` unset, a misfire);
4. ``vacuum`` (keep_last=1) so the pruned files leave the disk;
5. ``fix --snapshot`` re-archives the gaps and commits them add-only.

The caller asserts the CLOSED LOOP: the final snapshot's file list and the
content digest of every kind are IDENTICAL to an undisturbed clean run
(``mode=clean``: same pipeline, no damage, no kill) — proving the CAS
commit loop, the vacuum, and plain-recompute job retries compose.

Usage: verify_fix_chaos_probe.py WORK_DIR OUT_JSON MODE   # MODE: chaos|clean
Always exits 0 — the caller asserts on the JSON.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RANGE = (100, 499)
CHUNK = 100
CORRUPT_HEIGHT = 250  # inside chunk 200-299
DEAD_TXES_CHUNK = (300, 399)


def _executor_pids() -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"CoarseGrainedExecutorBackend" in cmd:
            pids.append(int(entry))
    return sorted(pids)


def _corrupt_blocks_file(spark, path: str) -> None:
    """Rewrite one archived blocks file with a broken parent link at
    CORRUPT_HEIGHT (driver-side, file-local — simulates bit-rot/bad fetch)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    bad = df.withColumn(
        "parentId",
        F.when(F.col("height") == CORRUPT_HEIGHT, F.lit("CORRUPTED"))
        .otherwise(F.col("parentId")),
    )
    tmp = tempfile.mkdtemp()
    out = os.path.join(tmp, "rw")
    bad.coalesce(1).write.mode("overwrite").parquet(out)
    part = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
    os.replace(os.path.join(out, part), path)
    shutil.rmtree(tmp, ignore_errors=True)


def _digest(spark, base: str, files: list[str], kind_tag: str) -> str:
    """Order-independent content digest of one kind's snapshot files over
    the STABLE columns (archiveTimestamp is wall-clock, excluded)."""
    paths = [os.path.join(base, f) for f in files if f".{kind_tag}." in f]
    if not paths:
        return "EMPTY"
    df = spark.read.parquet(*paths).drop("archiveTimestamp")
    cols = sorted(df.columns)
    rows = sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    work, out_path, mode = sys.argv[1], sys.argv[2], sys.argv[3]
    res: dict = {"ok": False, "mode": mode, "killed": None, "error": None}

    import pyspark

    os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    from dshackle_archive_spark.core import DataKind, Range
    from dshackle_archive_spark.plans import verify_plan
    from dshackle_archive_spark.plans.archive_plan import archive
    from dshackle_archive_spark.plans.fix_plan import fix
    from dshackle_archive_spark.plans.verify_plan import verify
    from dshackle_archive_spark.session import get_spark
    from dshackle_archive_spark.sources import snapshots as SNAP
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.sources.mock_chain import MockChain

    spark = get_spark("verify-fix-chaos", master="local-cluster[2,2,2048]")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    deadline = time.time() + 60
    while len(_executor_pids()) < 2 and time.time() < deadline:
        time.sleep(0.5)

    chain = MockChain(head_height=10_000)
    policy = FetchPolicy(parallel=4)
    tables = (DataKind.BLOCKS, DataKind.TRANSACTIONS)
    rng = Range(*RANGE)
    base = os.path.join(work, chain.blockchain_id.lower())

    try:
        archive(spark, chain, work, rng, tables=tables, chunk=CHUNK,
                policy=policy)

        if mode == "chaos":
            # damage mix: one txes file gone + one blocks file corrupted
            os.remove(os.path.join(
                base, "000000000",
                f"range-{DEAD_TXES_CHUNK[0]:09d}_{DEAD_TXES_CHUNK[1]:09d}"
                ".txes.parquet",
            ))
            _corrupt_blocks_file(spark, os.path.join(
                base, "000000000", "range-000000200_000000299.blocks.parquet"
            ))

            # SIGKILL every live executor once verify's content job (one
            # task per island: read, check, one stats row) has a running
            # stage: its tasks die with their executors and must finish via
            # worker respawn + task retry
            real_check = verify_plan._check_islands
            tracker = spark.sparkContext.statusTracker()
            done = threading.Event()

            def kill_when_running():
                while not tracker.getActiveStageIds():
                    if done.wait(0.01):
                        return  # the job ended unseen: the probe misfired
                victims = _executor_pids()
                if victims:
                    res["killed"] = victims[0]
                    for pid in victims:
                        try:
                            os.kill(pid, signal.SIGKILL)
                        except OSError:
                            pass

            def killing_check(*a, **kw):
                killer = threading.Thread(target=kill_when_running, daemon=True)
                killer.start()
                try:
                    return real_check(*a, **kw)
                finally:
                    done.set()
                    killer.join()

            verify_plan._check_islands = killing_check

        rep = verify(spark, chain, work, rng, tables=tables,
                     fix_clean=True, snapshot=True)
        if mode == "chaos":
            verify_plan._check_islands = real_check
        res["verify_failures"] = len(rep.failures)
        res["pruned"] = len(rep.pruned_from_snapshot)

        SNAP.vacuum(base, keep_last=1)

        fres = fix(spark, chain, work, rng, tables=tables, chunk=CHUNK,
                   policy=policy, snapshot=True)
        res["fixed"] = sorted(f"{k}:{lo}..{hi}" for k, lo, hi in fres.missing)

        snap = SNAP.load_snapshot(base)
        res["files"] = sorted(snap.files)
        res["digests"] = {
            "blocks": _digest(spark, base, snap.files, "blocks"),
            "txes": _digest(spark, base, snap.files, "txes"),
        }
        res["ok"] = True
    except Exception as e:  # noqa: BLE001 — verdict travels in the JSON
        res["error"] = f"{type(e).__name__}: {e}"
    finally:
        with open(out_path, "w") as f:
            json.dump(res, f)
        try:
            spark.stop()
        except Exception:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
