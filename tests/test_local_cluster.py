"""Local-cluster smoke: the heaviest registry queries + a curate cycle on
REAL executor JVMs (``local-cluster[2,2,2048]``) must match the single-JVM
``local[4]`` results exactly.

``local[N]`` cannot catch single-JVM assumptions — localCheckpoint blocks
always "survive", broadcasts never serialize across processes, and the
executor Python workers share the driver's import path. local-cluster is
Spark's test master that launches real Worker+Executor JVMs, so this module
is the closest this container gets to task 6's multi-executor target.

Slow (~3-4 min: executor JVM startup + 10 heavy queries at sf0.01); skip
with SPARK_GRAFT_SKIP_SLOW=1 when iterating.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

# the ten most expensive registry queries by the round-6 bench record,
# spanning every executor-boundary mechanism: mapInPandas (v3/v10 BLAS
# reranks), iterative checkpoints (d11/d8/d12), broadcast hash joins
# (v2/d4/d13), and multi-stage dedup (d10)
HEAVY = [
    "d12_triangle_count",
    "v3_ivf_topk",
    "d11_pagerank",
    "v2_ann_lsh_topk",
    "d4_embedding_neardup",
    "d8_chain_components",
    "d10_semantic_dedup",
    "d13_cluster_profile",
    "v10_ivf_pq_topk",
    "v15_recall_curve",
]

pytestmark = [
    pytest.mark.slow,  # subprocess executor JVMs + 900-1800 s timeouts
    pytest.mark.skipif(
        os.environ.get("SPARK_GRAFT_SKIP_SLOW") == "1",
        reason="slow local-cluster smoke disabled via SPARK_GRAFT_SKIP_SLOW",
    ),
]


@pytest.fixture(scope="module")
def probe_result(tmp_path_factory):
    sf_dir = "/root/testdata/sf0.01"
    out = tmp_path_factory.mktemp("lc") / "probe.json"
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "local_cluster_probe.py")
    # run the probe with RELIABLE checkpointing on: real executor JVMs +
    # DFS-backed df.checkpoint() is exactly the cluster configuration the
    # localCheckpoint durability concern is about — results must still be
    # byte-identical to the single-JVM localCheckpoint session
    env = dict(os.environ)
    env["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path_factory.mktemp("ckpt"))
    proc = subprocess.run(
        [sys.executable, script, ",".join(HEAVY), sf_dir, str(out)],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert proc.returncode == 0, (
        f"local-cluster probe failed\nstdout: {proc.stdout[-2000:]}\n"
        f"stderr: {proc.stderr[-4000:]}"
    )
    # the reliable path was genuinely exercised: block files landed in the
    # configured checkpoint dir (Spark nests a UUID subdir beneath it)
    import pathlib

    ckpt_files = [p for p in pathlib.Path(env["SPARK_GRAFT_CHECKPOINT_DIR"]).rglob("*")
                  if p.is_file()]
    assert ckpt_files, "reliable checkpoint dir is empty — fallback was used"
    return json.loads(out.read_text())


def test_queries_match_single_jvm(spark, probe_result):
    """Every heavy query returns IDENTICAL (cols, rows) on local-cluster
    executors as on the in-process local[4] session."""
    import dshackle_archive_spark.queries as Q

    reg = Q.registry()
    mismatches = []
    for name in HEAVY:
        df = reg[name](spark, "/root/testdata/sf0.01")
        rows = sorted([str(v) for v in r] for r in df.collect())
        got = probe_result["queries"][name]
        if got["cols"] != sorted(df.columns) or got["rows"] != rows:
            mismatches.append(name)
    assert mismatches == []


def test_curate_cycle_survives_executors(probe_result):
    cur = probe_result["curate"]
    assert cur["survivors"] > 0
    # the staged plan ran every stage and only ever shrank the corpus
    counts = cur["stages"]
    assert counts and min(counts.values()) > 0


# --------------------------------------------------------------------------
# Executor-LOSS durability (round-8 task 4): parity proved above; this
# proves the checkpoint strategy's actual failure-mode claim.
# --------------------------------------------------------------------------

def _run_loss_probe(tmp_path, mode: str,
                    qname: str = "d8_chain_components") -> dict:
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "executor_loss_probe.py")
    out = tmp_path / f"loss_{mode}_{qname}.json"
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    if mode == "reliable":
        env["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ckpt")
    # the probe exists to exercise DISTRIBUTED-iteration checkpoint
    # recovery: force that arm, or the r11 driver-finish hybrid ends the
    # peel before the kill point arms (sf0.01 fits the driver cap) and
    # the probe misfires with zero kills
    env["SPARK_GRAFT_CC_DRIVER_EDGES"] = "0"
    env["SPARK_GRAFT_KCORE_DRIVER_EDGES"] = "0"
    proc = subprocess.run(
        [sys.executable, script, qname,
         "/root/testdata/sf0.01", "2", str(out)],
        capture_output=True, text=True, timeout=900, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(out.read_text())


def test_executor_loss_reliable_checkpoint_survives(spark, tmp_path):
    """SIGKILL every executor JVM right after the 2nd checkpoint of the
    connected-components iteration: with DFS-backed checkpointing the
    replacement executor re-reads the blocks from the checkpoint dir and
    the job completes with results IDENTICAL to an undisturbed single-JVM
    run — the spot-preemption story 'configured' -> 'demonstrated'."""
    res = _run_loss_probe(tmp_path, "reliable")
    assert res["killed_pid"], "no executor was killed — probe misfired"
    assert res["ok"], res["error"]
    assert res["ckpt_calls"] > 2  # iterations CONTINUED after the kill

    import dshackle_archive_spark.queries as Q

    df = Q.registry()["d8_chain_components"](spark, "/root/testdata/sf0.01")
    truth = sorted([str(v) for v in r] for r in df.collect())
    assert res["cols"] == sorted(df.columns)
    assert res["rows"] == truth


def test_executor_loss_local_checkpoint_fails_loudly(tmp_path):
    """The SAME kill without $SPARK_GRAFT_CHECKPOINT_DIR: localCheckpoint
    blocks died with the executor and are unrecomputable (truncated
    lineage), so the job must FAIL — never return partial results. This is
    the contrast that justifies reliable_checkpoint's existence."""
    res = _run_loss_probe(tmp_path, "local")
    assert res["killed_pid"], "no executor was killed — probe misfired"
    assert not res["ok"]
    assert "CHECKPOINT" in (res["error"] or "").upper() or \
        "block" in (res["error"] or "").lower(), res["error"]


# --------------------------------------------------------------------------
# Memory-pressure durability (round-9 task 6): the executor-loss probe
# proved RECOMPUTATION; this proves SPILL — the 5 heaviest queries complete
# on 1 GiB executors at sf0.1 (per-executor memory ~10x below the local[32]
# session's share) with results identical to an unconstrained local[4] run.
# "Does it spill or OOM at 100x" — the plans must degrade to disk, not die.
# --------------------------------------------------------------------------

HEAVIEST_SF01 = [
    "d12_triangle_count",
    "d11_pagerank",
    "d17_adamic_adar",
    "d8_chain_components",
    "d13_cluster_profile",
]


def test_heaviest_queries_complete_on_1g_executors(spark, tmp_path):
    """BENCH_r08's 5 most expensive queries at sf0.1 under
    ``local-cluster[2,2,1024]`` must (a) complete — shuffles/aggregations
    spill instead of OOM — and (b) digest-match the same queries on the
    in-process local[4] session."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "local_cluster_probe.py")
    out = tmp_path / "memsqueeze.json"
    env = dict(os.environ)
    env["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ckpt")
    proc = subprocess.run(
        [sys.executable, script, ",".join(HEAVIEST_SF01),
         "/root/testdata/sf0.1", str(out),
         "local-cluster[2,2,1024]", "digest"],
        capture_output=True, text=True, timeout=1800, env=env,
    )
    assert proc.returncode == 0, (
        f"1 GiB-executor probe failed (OOM instead of spill?)\n"
        f"stdout: {proc.stdout[-2000:]}\nstderr: {proc.stderr[-4000:]}"
    )
    res = json.loads(out.read_text())

    import hashlib

    import dshackle_archive_spark.queries as Q

    reg = Q.registry()
    mismatches = []
    for name in HEAVIEST_SF01:
        df = reg[name](spark, "/root/testdata/sf0.1")
        rows = sorted([str(v) for v in r] for r in df.collect())
        sha = hashlib.sha256(
            "\n".join("\x1f".join(r) for r in rows).encode()
        ).hexdigest()
        got = res["queries"][name]
        if (got["cols"] != sorted(df.columns) or got["n"] != len(rows)
                or got["sha256"] != sha):
            mismatches.append(name)
    assert mismatches == []


# --------------------------------------------------------------------------
# Memory-pressure END-TO-END curate (round-10 task 5): the 1 GiB probe above
# covers the 5 heaviest QUERIES; the full curate chain (strip-passages ->
# exact dedup -> near-dup CC -> decontamination -> split) with its staged
# checkpoints had never run under executor memory pressure or at x8 docs.
# --------------------------------------------------------------------------


def _x8_docs(spark, sf_dir: str):
    """8 id-shifted copies of the sf documents, each with a distinct
    appended token — copies survive exact dedup (near-identical, not
    identical) so the near-dup CC stage gets real 8-cliques. MUST stay in
    lockstep with local_cluster_probe.py's curate_x8 builder."""
    from functools import reduce

    from dshackle_archive_spark.sources.tables import load_tables
    from pyspark.sql import functions as F

    base = load_tables(spark, sf_dir)["documents"]
    copies = [
        base.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copytag{i}")).alias("text"),
            "lang", "source", "n_chars",
        )
        for i in range(8)
    ]
    return reduce(lambda a, b: a.unionByName(b), copies), base


def test_curate_x8_completes_on_1g_executors(spark, tmp_path):
    """curate at x8-of-sf0.1 documents (40k docs) on
    ``local-cluster[2,2,1024]`` with DFS checkpoints must (a) complete —
    every staged materialization spills instead of OOMing — and (b) match
    the identical pipeline on the unconstrained in-process local[4]
    session: same per-stage attrition counts and the same
    (doc_id, split) row digest. Per-stage wall times land in the probe
    JSON (recorded in PERF.md)."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "local_cluster_probe.py")
    out = tmp_path / "curate_x8.json"
    env = dict(os.environ)
    env["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ckpt")
    proc = subprocess.run(
        [sys.executable, script, "", "/root/testdata/sf0.1", str(out),
         "local-cluster[2,2,1024]", "curate_x8"],
        capture_output=True, text=True, timeout=1800, env=env,
    )
    assert proc.returncode == 0, (
        f"curate x8 memory probe failed (OOM instead of spill?)\n"
        f"stdout: {proc.stdout[-2000:]}\nstderr: {proc.stderr[-4000:]}"
    )
    res = json.loads(out.read_text())["curate"]

    # parity leg: identical pipeline, in-process unconstrained session
    import hashlib

    from dshackle_archive_spark.plans.curate_plan import curate

    docs, base = _x8_docs(spark, "/root/testdata/sf0.1")
    bench = base.filter("doc_id % 29 = 0").select("doc_id", "text")
    curated, local_res = curate(docs, benchmark=bench, strip_passages=True)
    rows = sorted(
        [str(v) for v in r]
        for r in curated.select("doc_id", "split").collect()
    )
    sha = hashlib.sha256(
        "\n".join("\x1f".join(r) for r in rows).encode()
    ).hexdigest()

    assert res["stages"] == local_res.stage_counts
    assert res["survivors"] == len(rows)
    assert res["cols"] == sorted(curated.columns)
    assert res["sha256"] == sha
    # the dedup _index (hashes + bands + segment-df) persisted under pressure
    assert {"hashes", "bands", "segments"} <= set(res["index_parts"])
    # the x8 build actually fed the pipeline
    assert local_res.stage_counts["input"] == 8 * base.count()
    # stage timing evidence exists for every executed stage
    assert set(res["stage_seconds"]) == set(res["stages"])


def test_executor_loss_ktruss_reliable_survives(spark, tmp_path):
    """The round-10 iterative operator honors the same durability
    contract as CC: SIGKILL every executor right after d22's 2nd
    checkpoint (the peel's round boundary) — with DFS-backed
    checkpointing the peel resumes from the round boundary and the truss
    (edges + exact support values) matches an undisturbed single-JVM
    run. Guards the contract for operators added AFTER the probe was
    built (the fused-fixpoint loop releases superseded checkpoint DIRS,
    so this also proves release() never deletes a directory recovery
    still needs)."""
    res = _run_loss_probe(tmp_path, "reliable", qname="d22_ktruss_prune")
    assert res["killed_pid"], "no executor was killed — probe misfired"
    assert res["ok"], res["error"]
    assert res["ckpt_calls"] > 2  # the peel CONTINUED after the kill

    import dshackle_archive_spark.queries as Q

    df = Q.registry()["d22_ktruss_prune"](spark, "/root/testdata/sf0.01")
    truth = sorted([str(v) for v in r] for r in df.collect())
    assert res["cols"] == sorted(df.columns)
    assert res["rows"] == truth


def test_verify_fix_chaos_closed_loop(tmp_path):
    """Round-11 task: the reference lifecycle end-to-end UNDER FAILURE.
    Archive → damage a mix of files (one txes file deleted, one blocks
    file corrupted at a single height) → ``verify --snapshot --fix.clean``
    with every executor SIGKILLed mid-content-check → vacuum → ``fix
    --snapshot``. The final snapshot (file list AND per-kind content
    digest over stable columns) must equal an undisturbed clean run's —
    the CAS commit loop, the vacuum, and plain-recompute stage retries
    compose under the failure mode they exist for."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "verify_fix_chaos_probe.py")
    runs = {}
    for mode in ("clean", "chaos"):
        out = tmp_path / f"{mode}.json"
        proc = subprocess.run(
            [sys.executable, script, str(tmp_path / mode), str(out), mode],
            capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        with open(out) as f:
            runs[mode] = json.load(f)
    clean, chaos = runs["clean"], runs["chaos"]
    assert clean["ok"], clean["error"]
    assert chaos["ok"], chaos["error"]
    # the chaos actually happened
    assert chaos["killed"], "no executor was killed — probe misfired"
    assert chaos["verify_failures"] >= 2  # incomplete + content corruption
    assert chaos["pruned"] >= 3  # orphan blocks + corrupted chunk's pair
    # adjacent missing chunks coalesce into one island per kind; fix then
    # re-splits at chunk boundaries so the restored FILES keep chunk names
    assert chaos["fixed"] == ["blocks:200..399", "transactions:200..399"]
    # the clean run saw nothing to do
    assert clean["verify_failures"] == 0 and clean["fixed"] == []
    # closed loop: bit-for-bit the same final archive state
    assert chaos["files"] == clean["files"]
    assert chaos["digests"] == clean["digests"]


def test_compact_chaos_executor_loss_matches_clean(tmp_path):
    """Round-11: the one lifecycle mutation the verify→fix leg doesn't
    cover — ``compact --snapshot`` REWRITES data (singles → range files,
    tmp+rename, overwrite) then CAS-swaps the manifest. SIGKILL every
    executor once the fused rewrite job is running: the rewrite (read,
    J6/A7 reconciliation, write) and the snapshot commit must complete on
    respawned executors with a final snapshot identical to a clean run."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "compact_chaos_probe.py")
    runs = {}
    for mode in ("clean", "chaos"):
        out = tmp_path / f"{mode}.json"
        proc = subprocess.run(
            [sys.executable, script, str(tmp_path / mode), str(out), mode],
            capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        with open(out) as f:
            runs[mode] = json.load(f)
    clean, chaos = runs["clean"], runs["chaos"]
    assert clean["ok"], clean["error"]
    assert chaos["ok"], chaos["error"]
    assert chaos["killed"], "no executor was killed — probe misfired"
    for r in (clean, chaos):
        assert r["compacted"] == [[100, 199], [200, 299]], r
        assert r["skipped"] == []
        assert r["snapshot_version"] is not None
    assert chaos["files"] == clean["files"]
    assert sorted(clean["files"]) == [
        "000000000/range-000000100_000000199.blocks.parquet",
        "000000000/range-000000100_000000199.txes.parquet",
        "000000000/range-000000200_000000299.blocks.parquet",
        "000000000/range-000000200_000000299.txes.parquet",
    ]
    assert chaos["digests"] == clean["digests"]
