#!/usr/bin/env python
"""Subprocess body for the compact-under-executor-loss chaos leg (round-11).

``compact --snapshot`` is the one lifecycle mutation the verify→fix chaos
leg does not cover: it REWRITES data (singles → range files, tmp+rename
commit, overwrite=True) and then swaps the manifest in one CAS commit. This
probe archives 200 single-block files (blocks + txes) on real executor
JVMs, then runs the transactional compact while SIGKILLing every live
executor as soon as the fused rewrite job (read, J6/A7 reconciliation and
write of every chunk and kind) has a running stage — the rewrite and the
snapshot commit must complete via standalone-worker respawn + task
retries, and the caller asserts the final snapshot (file list + per-kind
content digest over stable columns) is IDENTICAL to an undisturbed clean
run's.

Usage: compact_chaos_probe.py WORK_DIR OUT_JSON MODE   # MODE: chaos|clean
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


def _digest(spark, base: str, files: list[str], kind_tag: str) -> str:
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
    from dshackle_archive_spark.plans.archive_plan import archive_single_blocks
    from dshackle_archive_spark.plans import compact_plan
    from dshackle_archive_spark.session import get_spark
    from dshackle_archive_spark.sources import snapshots as SNAP
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.sources.mock_chain import MockChain

    spark = get_spark("compact-chaos", master="local-cluster[2,2,2048]")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    deadline = time.time() + 60
    while len(_executor_pids()) < 2 and time.time() < deadline:
        time.sleep(0.5)

    chain = MockChain(head_height=10_000)
    tables = (DataKind.BLOCKS, DataKind.TRANSACTIONS)
    rng = Range(100, 299)
    base = os.path.join(work, chain.blockchain_id.lower())

    try:
        archive_single_blocks(spark, chain, work, rng, tables=tables,
                              policy=FetchPolicy(parallel=4))

        if mode == "chaos":
            real_rewrite = compact_plan._rewrite
            tracker = spark.sparkContext.statusTracker()
            done = threading.Event()

            def kill_when_running():
                # the fused rewrite job's stage is live: its tasks die with
                # their executors and rerun on respawned ones
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

            def killing_rewrite(*a, **kw):
                killer = threading.Thread(target=kill_when_running, daemon=True)
                killer.start()
                try:
                    return real_rewrite(*a, **kw)
                finally:
                    done.set()
                    killer.join()

            compact_plan._rewrite = killing_rewrite

        cres = compact_plan.compact(spark, work, chain.blockchain_id, rng, tables=tables,
                                    chunk=100, block_json_schema=chain.block_json_schema,
                                    snapshot=True)
        if mode == "chaos":
            compact_plan._rewrite = real_rewrite
        res["compacted"] = cres.compacted_chunks
        res["skipped"] = cres.skipped_chunks
        res["snapshot_version"] = cres.snapshot_version

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
