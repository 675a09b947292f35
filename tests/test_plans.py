"""End-to-end workflow tests: archive → verify → compact → fix on the mock
chain, with golden file-inventory assertions (the reference's e2e test style,
``compact.rs:798-1119``, ``verify.rs:950-1212``, ``storage/mod.rs:290-610``).
"""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dshackle_archive_spark.core import DataKind, Range, parse_filename
from dshackle_archive_spark.plans.archive_plan import archive, archive_single_blocks
from dshackle_archive_spark.plans.compact_plan import compact
from dshackle_archive_spark.plans.fix_plan import fix
from dshackle_archive_spark.plans.verify_plan import verify
from dshackle_archive_spark.sources.archive import delete_files, inventory_df, list_archive_files
from dshackle_archive_spark.sources.fetcher import FetchPolicy
from dshackle_archive_spark.sources.mock_chain import MockChain

BT = (DataKind.BLOCKS, DataKind.TRANSACTIONS)
POLICY = FetchPolicy(parallel=4)
CHAIN = MockChain(head_height=10_000)


def tree(root, chain=CHAIN):
    return list_archive_files(os.path.join(str(root), chain.blockchain_id.lower()))


def test_archive_range(spark, tmp_path):
    res = archive(spark, CHAIN, str(tmp_path), Range(100, 349), tables=BT, chunk=100, policy=POLICY)
    assert res.written == 6 and res.skipped == 0  # 3 chunks × 2 kinds
    got = tree(tmp_path)
    assert got == [
        "000000000/range-000000100_000000199.blocks.parquet",
        "000000000/range-000000100_000000199.txes.parquet",
        "000000000/range-000000200_000000299.blocks.parquet",
        "000000000/range-000000200_000000299.txes.parquet",
        # partial trailing piece advertises only the heights it contains
        "000000000/range-000000300_000000349.blocks.parquet",
        "000000000/range-000000300_000000349.txes.parquet",
    ]
    # content: blocks have the right heights; txes match the mock tx lists
    bdf = spark.read.parquet(str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.blocks.parquet"))
    assert bdf.count() == 100
    heights = [r["height"] for r in bdf.select("height").orderBy("height").collect()]
    assert heights == list(range(100, 200))
    tdf = spark.read.parquet(str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.txes.parquet"))
    expected_tx = sum(len(CHAIN.tx_ids(h)) for h in range(100, 200))
    assert tdf.count() == expected_tx
    # notifications: one per written file
    assert res.notifications.count() == 6
    n = res.notifications.filter(F.col("type") == "blocks").orderBy("heightStart").collect()
    assert [(r["heightStart"], r["heightEnd"], r["run"]) for r in n] == [
        (100, 199, "archive"), (200, 299, "archive"), (300, 349, "archive")
    ]


def test_archive_idempotent_no_overwrite(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    res2 = archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    assert res2.written == 0 and res2.skipped == 2  # S13 keep-existing


def test_verify_clean_archive_ok(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == [] and rep.deleted == []
    assert rep.groups_total == 2 and rep.groups_ok == 2


def test_verify_detects_missing_txes_file(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    delete_files(str(tmp_path / "eth"), ["000000000/range-000000200_000000299.txes.parquet"])
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT)
    assert any(f["reason"] == "incomplete" and f["start"] == 200 for f in rep.failures)
    # without fix_clean nothing is deleted
    assert rep.deleted == []
    rep2 = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, fix_clean=True)
    assert rep2.deleted == ["000000000/range-000000200_000000299.blocks.parquet"]


def test_verify_detects_broken_chain(spark, tmp_path):
    class BrokenChain(MockChain):
        def block(self, height, fork=False):
            blk = super().block(height, fork)
            if height == 150:
                blk["parent"] = "WRONG"
            return blk

    chain = BrokenChain(head_height=10_000)
    archive(spark, chain, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    # the blocks file carries the wrong parent; verify against the TRUE chain
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, dry_run=True)
    bad = [f for f in rep.failures if f["reason"] == "blocks_content"]
    assert len(bad) == 1 and bad[0]["broken_links"] == 1
    # dry-run: delete list reported but files kept
    assert rep.dry_run and len(rep.deleted) == 2
    assert len(tree(tmp_path)) == 2


def test_verify_detects_missing_tx_rows(spark, tmp_path):
    class ShortTxChain(MockChain):
        def tx_ids(self, height):
            ids = super().tx_ids(height)
            return ids[:-1] if height == 120 else ids

    # archive with a provider that drops one tx; blocks json still promises it
    class ShortTxOnlyForTxes(MockChain):
        pass

    chain = MockChain(head_height=10_000)
    archive(spark, chain, str(tmp_path), Range(100, 199), tables=(DataKind.BLOCKS,), chunk=100, policy=POLICY)
    short = ShortTxChain(head_height=10_000)
    archive(spark, short, str(tmp_path), Range(100, 199), tables=(DataKind.TRANSACTIONS,), chunk=100, policy=POLICY)
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, dry_run=True)
    bad = [f for f in rep.failures if f["reason"] == "txes_content"]
    assert len(bad) == 1 and bad[0]["n_missing"] == 1 and bad[0]["n_unexpected"] == 0


def test_verify_fork_resolution(spark, tmp_path):
    fork_chain = MockChain(head_height=10_000, fork_at=frozenset({205}))
    archive_single_blocks(
        spark, fork_chain, str(tmp_path), Range(200, 209),
        tables=(DataKind.BLOCKS,), policy=POLICY, forks=True,
    )
    files = tree(tmp_path)
    assert len(files) == 11  # 10 heights + 1 fork twin at 205
    rep = verify(spark, CHAIN, str(tmp_path), Range(200, 209), tables=(DataKind.BLOCKS,))
    assert any(f["reason"] == "fork_loser" for f in rep.failures)
    assert len(tree(tmp_path)) == 10
    # the losing (F205) file is gone, canonical B205 kept
    survivors = [parse_filename(p) for p in tree(tmp_path)]
    h205 = [fi for fi in survivors if fi.range.start == 205]
    assert len(h205) == 1


def test_compact_singles_to_range(spark, tmp_path):
    archive_single_blocks(
        spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, policy=POLICY
    )
    assert len(tree(tmp_path)) == 400  # 200 heights × 2 kinds
    res = compact(spark, str(tmp_path), "ETH", Range(100, 299), tables=BT, chunk=100,
                  block_json_schema=CHAIN.block_json_schema)
    assert res.compacted_chunks == [(100, 199), (200, 299)]
    got = tree(tmp_path)
    assert got == [
        "000000000/range-000000100_000000199.blocks.parquet",
        "000000000/range-000000100_000000199.txes.parquet",
        "000000000/range-000000200_000000299.blocks.parquet",
        "000000000/range-000000200_000000299.txes.parquet",
    ]
    # rewritten content is complete and ordered
    bdf = spark.read.parquet(str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.blocks.parquet"))
    assert bdf.count() == 100
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == []


def test_compact_refuses_partial_chunk(spark, tmp_path):
    # scenario 12: partial trailing chunk must remain uncompacted
    archive_single_blocks(
        spark, CHAIN, str(tmp_path), Range(100, 249), tables=BT, policy=POLICY
    )
    res = compact(spark, str(tmp_path), "ETH", Range(100, 299), tables=BT, chunk=100)
    assert res.compacted_chunks == [(100, 199)]
    assert [(s, e) for s, e, _ in res.skipped_chunks] == [(200, 299)]
    # 200..249 singles still there
    singles_left = [p for p in tree(tmp_path) if "range-" not in p]
    assert len(singles_left) == 100  # 50 heights × 2 kinds


def test_compact_skips_gap_chunk(spark, tmp_path):
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(100, 149), tables=BT, policy=POLICY)
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(151, 199), tables=BT, policy=POLICY)
    res = compact(spark, str(tmp_path), "ETH", Range(100, 199), tables=BT, chunk=100)
    assert res.compacted_chunks == []
    assert "does not exactly cover" in res.skipped_chunks[0][2]


def test_fix_rearchives_missing(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT, chunk=100, policy=POLICY)
    delete_files(str(tmp_path / "eth"), [
        "000000000/range-000000200_000000299.txes.parquet",
        "000000000/range-000000300_000000399.blocks.parquet",
        "000000000/range-000000300_000000399.txes.parquet",
    ])
    res = fix(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT, chunk=100, policy=POLICY)
    assert sorted(res.missing) == [
        ("blocks", 300, 399),
        ("transactions", 200, 399),
    ]
    # archive tree fully restored
    assert len(tree(tmp_path)) == 8
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT)
    assert rep.failures == []


def test_fix_dry_run_reports_only(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    delete_files(str(tmp_path / "eth"), ["000000000/range-000000100_000000199.txes.parquet"])
    res = fix(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100,
              policy=POLICY, dry_run=True)
    assert res.missing == [("transactions", 100, 199)]
    assert res.archived == [] and len(tree(tmp_path)) == 1


def test_full_three_table_lifecycle_with_traces(spark, tmp_path):
    BTT = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BTT, chunk=100, policy=POLICY)
    assert len(tree(tmp_path)) == 6
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BTT)
    assert rep.failures == []
    # break a trace payload: drop the traces file, re-archive with a provider
    # that nulls trace JSON (P5 violation on the traces table)
    delete_files(str(tmp_path / "eth"), [
        "000000000/range-000000100_000000199.traces.parquet"])

    class NullTraceChain(MockChain):
        def trace_json(self, txid):
            return b"null"

    archive(spark, NullTraceChain(head_height=10_000), str(tmp_path), Range(100, 199),
            tables=(DataKind.TRACES,), chunk=100, policy=POLICY)
    rep2 = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BTT, dry_run=True)
    assert any(f["reason"] == "traces_content" for f in rep2.failures)


def test_compact_three_tables(spark, tmp_path):
    BTT = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(500, 599), tables=BTT, policy=POLICY)
    res = compact(spark, str(tmp_path), "ETH", Range(500, 599), tables=BTT, chunk=100,
                  block_json_schema=CHAIN.block_json_schema)
    assert res.compacted_chunks == [(500, 599)]
    assert sorted(tree(tmp_path)) == [
        "000000000/range-000000500_000000599.blocks.parquet",
        "000000000/range-000000500_000000599.traces.parquet",
        "000000000/range-000000500_000000599.txes.parquet",
    ]
    rep = verify(spark, CHAIN, str(tmp_path), Range(500, 599), tables=BTT)
    assert rep.failures == []


def test_cli_verify_roundtrip(spark, tmp_path):
    """CLI surface smoke: archive then verify via main() with JSON output."""
    import json as _json

    from dshackle_archive_spark import cli

    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main([
            "verify", "--dir", str(tmp_path), "--range", "100..199",
            "--provider", "mock", "--mock-head", "10000", "--master", "local[4]",
        ])
    assert rc == 0
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["groups"] == 1 and out["ok"] == 1 and out["failures"] == []


def test_cli_scope_and_tables_parsing():
    """CLI plan-time parsing: --tail tip margin, table aliases, errors."""
    import argparse

    import pytest as _pytest

    from dshackle_archive_spark import cli

    ns = argparse.Namespace(range=None, tail=100)
    rng = cli._scope(ns, MockChain(head_height=10_000))
    # tail N = last N blocks holding back 4 unsettled tip blocks
    assert (rng.start, rng.end) == (9_897, 9_996)

    ns2 = argparse.Namespace(range="5..9", tail=None)
    assert cli._scope(ns2, None) == Range(5, 9)

    assert cli._tables("blocks,txes,traces") == (
        DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    assert cli._tables("tx, block") == (DataKind.TRANSACTIONS, DataKind.BLOCKS)
    with _pytest.raises(SystemExit):
        cli._tables("nope")
    with _pytest.raises(SystemExit):
        cli._scope(argparse.Namespace(range="9..5", tail=None), None)


def test_notifications_jsonl_sink(spark, tmp_path):
    """S15: one JSON line per archived file, written via the engine sink."""
    from dshackle_archive_spark.sources import ref_layout

    res = archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    # re-wrap the notification rows as a DataFrame (ArchiveResult keeps them)
    wr = res.notifications.withColumn("skipped", F.lit(False)).withColumn("n_rows", F.lit(0))
    out_dir = ref_layout.write_notifications(wr, str(tmp_path), "testrun")
    back = spark.read.json(out_dir)
    assert back.count() == 4
    rows = back.select("type", "heightStart", "heightEnd", "run").collect()
    assert {(r["type"], r["heightStart"], r["heightEnd"]) for r in rows} == {
        ("blocks", 100, 199), ("blocks", 200, 299),
        ("transactions", 100, 199), ("transactions", 200, 299),
    }
    assert all(r["run"] == "archive" for r in rows)


def test_register_temp_views_testdata(spark, sf_dir):
    from dshackle_archive_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n > 0
    joined = spark.sql(
        "SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ).collect()[0]["n"]
    assert joined == spark.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"]


def _no_tx_chain():
    # defined per-call so cloudpickle serializes the class by value (a
    # module-level test class is pickled by reference, which Spark workers
    # can't import)
    class NoTxChain(MockChain):
        """Every block is transaction-less — the reference still creates
        (empty) txes/traces files for the range (table.rs unconditional
        create)."""

        def tx_ids(self, height):
            return []

    return NoTxChain(head_height=10_000)


def test_archive_emits_empty_chunk_files(spark, tmp_path):
    chain = _no_tx_chain()
    res = archive(spark, chain, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    assert res.written == 4 and res.skipped == 0
    got = tree(tmp_path, chain)
    assert got == [
        "000000000/range-000000100_000000199.blocks.parquet",
        "000000000/range-000000100_000000199.txes.parquet",
        "000000000/range-000000200_000000299.blocks.parquet",
        "000000000/range-000000200_000000299.txes.parquet",
    ]
    tdf = spark.read.parquet(
        str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.txes.parquet")
    )
    assert tdf.count() == 0
    assert "height" in tdf.columns and "txid" in tdf.columns  # typed empty schema
    # verify converges: the empty file satisfies group completeness
    rep = verify(spark, chain, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == [] and rep.deleted == []
    # and fix finds nothing to do
    res2 = fix(spark, chain, str(tmp_path), Range(100, 299), tables=BT, chunk=100,
               policy=POLICY, dry_run=True)
    assert res2.missing == []


def test_single_blocks_emit_empty_height_files(spark, tmp_path):
    chain = _no_tx_chain()
    archive_single_blocks(spark, chain, str(tmp_path), Range(100, 104), tables=BT, policy=POLICY)
    got = tree(tmp_path, chain)
    assert len(got) == 10  # 5 heights × 2 kinds, txes files present though empty
    for h in range(100, 105):
        assert f"000000000/000000000/{h:09d}.txes.parquet" in got


def test_verify_duplicate_deletes_only_duplicated_kind(spark, tmp_path):
    """verify.rs RangeGroupError::Duplicate deletes the duplicate files of the
    duplicated kind only — the innocent txes file of the group survives."""
    import shutil

    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    d = tmp_path / "eth" / "000000000"
    # same (range, hash, kind) under a second extension = a true duplicate
    shutil.copy(d / "range-000000100_000000199.blocks.parquet",
                d / "range-000000100_000000199.blocks.avro")
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT)
    assert any(f["reason"] == "duplicate" for f in rep.failures)
    assert sorted(rep.deleted) == [
        "000000000/range-000000100_000000199.blocks.avro",
        "000000000/range-000000100_000000199.blocks.parquet",
    ]
    # the txes file of the group is untouched
    assert (d / "range-000000100_000000199.txes.parquet").exists()


def _jobs_and_tasks(spark, group, fn):
    """``fn()``'s result and the task count of each Spark job it ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in tracker.getJobIdsForGroup(group)
    ]


def test_compact_issues_constant_jobs(spark, tmp_path):
    """compact gates every chunk on the driver and rewrites all kinds of all
    passing chunks in one job, so its job count does not grow with the chunk
    count (the reference loops chunks; ~100 ms per Spark job would serialize
    minutes of scheduling on a 1,000-chunk scope), and the rewrite runs at
    most ``defaultParallelism`` tasks: no listing job with a task per path."""
    sc = spark.sparkContext

    def run(chunks):
        root = str(tmp_path / f"c{chunks}")
        rng = Range(0, chunks * 10 - 1)
        archive_single_blocks(spark, CHAIN, root, rng, tables=BT, policy=POLICY)
        res, tasks = _jobs_and_tasks(spark, f"compact-jobs-{chunks}", lambda: compact(
            spark, root, "ETH", rng, tables=BT, chunk=10,
            block_json_schema=CHAIN.block_json_schema))
        assert res.compacted_chunks == [(s, s + 9) for s in range(0, chunks * 10, 10)]
        assert len(tree(root)) == chunks * 2
        return len(tasks), tasks

    (jobs2, tasks2), (jobs20, tasks20) = run(2), run(20)
    assert jobs2 == jobs20 <= 3, f"2 chunks: {jobs2} jobs, 20 chunks: {jobs20} jobs"
    assert max(tasks2 + tasks20) <= sc.defaultParallelism, (tasks2, tasks20)


def test_stream_batch_is_one_job(spark, tmp_path):
    """A stream batch fetches and writes every kind of a height in the same
    task: one Spark job whatever the height count, with at most the
    tightest fetch cap of the requested kinds, and never more than
    ``defaultParallelism``, tasks."""
    sc = spark.sparkContext
    policy = FetchPolicy()
    caps = policy.thread_caps()
    for n in (2, 40):
        root, rng = str(tmp_path / f"h{n}"), Range(1_000, 999 + n)
        res, tasks = _jobs_and_tasks(spark, f"stream-jobs-{n}", lambda: archive_single_blocks(
            spark, CHAIN, root, rng, tables=BT, policy=policy, forks=True))
        assert res.written == 2 * n and len(tree(root)) == 2 * n
        assert len(tasks) == 1, f"{n} heights: {len(tasks)} jobs"
        assert tasks[0] <= min(caps.blocks, caps.tx, sc.defaultParallelism), (n, tasks)
    # --parallel 2 caps trace fetches at one (global.rs: api/4, at least 1)
    root = str(tmp_path / "traces")
    res, tasks = _jobs_and_tasks(spark, "stream-jobs-traces", lambda: archive_single_blocks(
        spark, CHAIN, root, Range(1_000, 1_004), tables=(DataKind.BLOCKS, DataKind.TRACES),
        policy=FetchPolicy(parallel=2)))
    assert tasks == [1] and res.written == 10


@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_stream_singles_match_archive_ranges(spark, tmp_path, fmt):
    """Stream singles hold the rows ``archive`` puts in its range files, for
    every kind, up to ``archiveTimestamp``: uncle columns, a height whose
    block lists no transactions (its txes and traces files are empty), and
    txes tagged with the canonical block. A fork twin gets its own
    hash-named blocks file, a rerun skips every file, and the provider's
    block is fetched once per (height, variant)."""
    from pyspark.accumulators import AccumulatorParam

    from dshackle_archive_spark.sources.avro_io import read_archive_pdf

    class Pairs(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    calls = spark.sparkContext.accumulator([], Pairs())

    class CountingChain(MockChain):  # executors unpickle it by value
        def block(self, height, fork=False):
            calls.add([(height, fork)])
            return super().block(height, fork)

        def block_json(self, height, fork=False):
            return json.dumps(MockChain.block(self, height, fork)).encode()

    # one tx on odd heights, none on even ones
    args = dict(head_height=10_000, txs_per_block=0, fork_at=frozenset({203}),
                uncle_at=frozenset({204, 205}))
    chain, rng = CountingChain(**args), Range(200, 209)
    tables = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    singles, ranges = str(tmp_path / "singles"), str(tmp_path / "ranges")
    res = archive_single_blocks(spark, chain, singles, rng, tables=tables, policy=POLICY,
                                forks=True, fmt=fmt)
    assert sorted(calls.value) == sorted([(h, False) for h in range(200, 210)] + [(203, True)])
    archive(spark, MockChain(**args), ranges, rng, tables=tables, chunk=10, policy=POLICY,
            fmt=fmt)

    files = tree(singles)
    assert len(files) == res.written == 31  # 11 blocks files, 10 txes, 10 traces
    assert sorted(r["location"] for r in res.write_rows) == [
        os.path.join(singles, "eth", p) for p in files]
    twin = [p for p in files if chain.block_hash(203, fork=True) in p]
    assert len(twin) == 1 and ".block." in twin[0]
    sort = {DataKind.BLOCKS: ["height"], DataKind.TRANSACTIONS: ["height", "index"],
            DataKind.TRACES: ["height", "index"]}
    for kind, by in sort.items():
        mine = [p for p in files if parse_filename(p).kind == kind and p not in twin]
        assert len(mine) == 10

        def rows(root, paths):
            pdf = read_archive_pdf([os.path.join(root, "eth", p) for p in paths], kind.value)
            return pdf.drop(columns=["archiveTimestamp"]).sort_values(by, ignore_index=True)

        want = rows(ranges, [p for p in tree(ranges) if parse_filename(p).kind == kind])
        assert len(want) == (10 if kind == DataKind.BLOCKS else 5)
        pd.testing.assert_frame_equal(rows(singles, mine), want)
    twin_row = read_archive_pdf([os.path.join(singles, "eth", twin[0])], "blocks")
    assert twin_row["blockId"].tolist() == [chain.block_hash(203, fork=True)]

    rerun = archive_single_blocks(spark, chain, singles, rng, tables=tables, policy=POLICY,
                                  forks=True, fmt=fmt)
    assert (rerun.written, rerun.skipped) == (0, 31) and tree(singles) == files
    assert rerun.notifications.count() == 0 and res.notifications.count() == 31


def test_compact_leaves_unresolved_fork_to_verify(spark, tmp_path):
    """A height with two blocks files (a fork verify has not resolved yet)
    keeps its chunk uncompacted. Compacting it would merge both twins into
    the range file — 51 rows for 50 heights — and delete every single;
    verify would then fail the island and delete both range files, losing
    every height of the chunk."""
    root, rng = str(tmp_path), Range(30_000, 30_049)
    forked = MockChain(head_height=100_000, fork_at=frozenset({30_010}))
    archive_single_blocks(spark, forked, root, rng, tables=BT, policy=POLICY, forks=True)
    singles = tree(tmp_path)
    assert len(singles) == 101
    res = compact(spark, root, "ETH", rng, tables=BT, chunk=50,
                  block_json_schema=forked.block_json_schema)
    assert res.compacted_chunks == [] and res.written == [] and res.deleted == []
    assert res.skipped_chunks == [(30_000, 30_049, "unresolved fork")]
    assert tree(tmp_path) == singles
    rep = verify(spark, forked, root, rng, tables=BT)
    assert [f["reason"] for f in rep.failures] == ["fork_loser"] and len(rep.deleted) == 1
    res = compact(spark, root, "ETH", rng, tables=BT, chunk=50,
                  block_json_schema=forked.block_json_schema)
    assert res.compacted_chunks == [(30_000, 30_049)] and len(res.deleted) == 100
    rep = verify(spark, forked, root, rng, tables=BT)
    assert rep.failures == [] and rep.deleted == []
    blocks = [p for p in tree(tmp_path) if ".blocks." in p]
    heights = spark.read.parquet(str(tmp_path / "eth" / blocks[0])).select("height")
    assert sorted(r[0] for r in heights.collect()) == list(range(30_000, 30_050))


def test_compact_gate_verdicts_on_the_driver():
    """Driver phase, no Spark: one verdict per chunk from the inventory rows,
    in the order of the reference's checks, and each passing chunk's plan —
    the sources per kind, or the exact-range file kept as is."""
    from dshackle_archive_spark.plans.compact_plan import _gate

    def singles(lo, hi, kind="blocks", h=None):
        return [(f"{x}.{kind}", kind, x, x, h) for x in range(lo, hi + 1)]

    rows = (
        # 0..9: both kinds as exact-range files
        [("r0.b", "blocks", 0, 9, None), ("r0.t", "transactions", 0, 9, None)]
        # 10..19: a file reaching into 20..29
        + singles(10, 15) + [("o.b", "blocks", 16, 25, None)] + singles(10, 19, "transactions")
        # 30..39: txes miss height 35
        + singles(30, 39) + singles(30, 34, "transactions") + singles(36, 39, "transactions")
        # 40..49: two blocks files for 40 with the same name parts
        + singles(40, 49) + [("40.b.avro", "blocks", 40, 40, None)]
        + singles(40, 49, "transactions")
        # 50..59: two fork twins at 52
        + singles(50, 59, h="a") + [("52.f", "blocks", 52, 52, "f")]
        + singles(50, 59, "transactions")
        # 60..69: blocks already compacted, txes still singles; a foreign
        # kind's singles do not count
        + [("r6.b", "blocks", 60, 69, None)] + singles(60, 69, "transactions")
        + singles(60, 69, "traces")
    )
    chunks = Range(0, 69).split_chunks(10, aligned=True)
    skipped, passing = _gate(rows, chunks, ("blocks", "transactions"), 10)
    assert skipped == [
        (0, 9, "already compacted"),
        (10, 19, "file range crosses chunk boundary"),
        (20, 29, "file range crosses chunk boundary"),
        (30, 39, "transactions does not exactly cover the chunk"),
        (40, 49, "duplicate files in chunk"),
        (50, 59, "unresolved fork"),
    ]
    assert passing == {
        (60, 69): {
            "blocks": (["r6.b"], False),
            "transactions": (sorted(f"{x}.transactions" for x in range(60, 70)), True),
        }
    }


def _table(paths, sort):
    """The rows of parquet files, concatenated and sorted, without the pandas
    metadata pyarrow stores in the schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.concat_tables([pq.read_table(p) for p in paths]).sort_by([(c, "ascending") for c in sort])
    return t.replace_schema_metadata(None)


def test_compact_keeps_every_source_row(spark, tmp_path):
    """The range files hold exactly the union of the parquet singles' rows,
    column for column: archive and block timestamps, payloads, and uncle
    columns that stay typed binary even when all null. A chunk whose blocks
    list no transactions still gets its (empty) txes range file."""
    from dshackle_archive_spark.sources.ref_layout import _pa_schema

    class TxlessChain(MockChain):  # blocks below 110 list no transactions
        def tx_ids(self, height):
            return [] if height < 110 else super().tx_ids(height)

    uncled = TxlessChain(head_height=10_000, uncle_at=frozenset({103}))
    root, rng = str(tmp_path), Range(100, 119)
    archive_single_blocks(spark, uncled, root, rng, tables=BT, policy=POLICY)
    sort = {DataKind.BLOCKS: ["height"], DataKind.TRANSACTIONS: ["height", "index"]}

    def rows(kind):
        paths = [p for p in tree(tmp_path) if parse_filename(p).kind == kind]
        return _table([tmp_path / "eth" / p for p in paths], sort[kind])

    before = {kind: rows(kind) for kind in sort}
    res = compact(spark, root, "ETH", rng, tables=BT, chunk=10,
                  block_json_schema=uncled.block_json_schema)
    assert res.compacted_chunks == [(100, 109), (110, 119)]
    assert all("range-" in p for p in tree(tmp_path))
    for kind in sort:
        after = rows(kind)
        assert after.equals(before[kind]), kind
        assert after.schema.equals(_pa_schema(kind))
    d = tmp_path / "eth" / "000000000"
    second = _table([d / "range-000000110_000000119.blocks.parquet"], ["height"])
    assert second.column("uncle0Json").null_count == 10  # all null, still binary
    assert _table([d / "range-000000100_000000109.txes.parquet"], ["height"]).num_rows == 0


def _drop_first_tx(df):
    return df.iloc[1:]


def _add_tx(df):
    extra = df.iloc[:1].copy()
    extra["txid"], extra["index"] = "TX-NOT-LISTED", len(df)
    return pd.concat([df, extra])


def _double_row(df):
    return pd.concat([df, df])


def _garble_json(df):
    return df.assign(json=[b"{not json"] * len(df))


@pytest.mark.parametrize(
    "ext, edit",
    [("txes", _drop_first_tx), ("txes", _add_tx), ("block", _double_row),
     ("block", _garble_json)],
    ids=["missing_txid", "extra_txid", "duplicate_height_row", "unparsable_block_json"],
)
def test_compact_reconciliation_failure_skips_chunk(spark, tmp_path, ext, edit):
    """Damage that the file names do not show fails the reconciliation: the
    chunk is skipped, no range file is written, its singles stay, and the
    clean chunk next to it still compacts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path)
    archive_single_blocks(spark, CHAIN, root, Range(0, 19), tables=BT, policy=POLICY)
    victim = str(tmp_path / "eth" / "000000000" / "000000000" / f"000000005.{ext}.parquet")
    table = pq.read_table(victim)
    pq.write_table(pa.Table.from_pandas(edit(table.to_pandas()), table.schema,
                                        preserve_index=False), victim)
    res = compact(spark, root, "ETH", Range(0, 19), tables=BT, chunk=10,
                  block_json_schema=CHAIN.block_json_schema)
    assert res.skipped_chunks == [(0, 9, "reconciliation failed")]
    assert res.compacted_chunks == [(10, 19)]
    assert sorted(tree(tmp_path)) == sorted(
        [f"000000000/000000000/{h:09d}.{e}.parquet" for h in range(10) for e in ("block", "txes")]
        + [f"000000000/range-000000010_000000019.{e}.parquet" for e in ("blocks", "txes")]
    )


def test_fix_batches_gaps_into_one_job_per_kind(spark, tmp_path):
    """A fragmented archive (10 gaps) is re-archived in one fetch+write job
    — not one archive() per gap (fix.rs loops; job launches must not: a
    10-gap fix at ~2 jobs/gap would issue 20+)."""
    archive(spark, CHAIN, str(tmp_path), Range(0, 999), tables=BT, chunk=50, policy=POLICY)
    victims = [
        f"000000000/range-{s:09d}_{s + 49:09d}.txes.parquet" for s in range(0, 1000, 100)
    ]
    delete_files(str(tmp_path / "eth"), victims)
    res, tasks = _jobs_and_tasks(spark, "fix-jobs", lambda: fix(
        spark, CHAIN, str(tmp_path), Range(0, 999), tables=BT, chunk=50, policy=POLICY))
    assert [(k, s, e) for k, s, e in res.missing] == [
        ("transactions", s, s + 49) for s in range(0, 1000, 100)
    ]
    assert len(tree(tmp_path)) == 40  # all 10 gap files restored
    assert len(tasks) == 1, f"fix issued {len(tasks)} jobs for 10 gaps"
    rep = verify(spark, CHAIN, str(tmp_path), Range(0, 999), tables=BT)
    assert rep.failures == []


@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_archive_and_fix_are_one_job(spark, tmp_path, fmt):
    """archive and fix fetch and write every unit (a chunk, a gap piece) in
    one Spark job with no shuffle, at 1 unit as at 20, and run at most
    ``min(cap, units, defaultParallelism)`` tasks."""
    sc = spark.sparkContext
    policy = FetchPolicy()
    caps = policy.thread_caps()
    for units in (1, 20):
        root, rng = str(tmp_path / f"u{units}"), Range(0, units * 10 - 1)
        bound = min(caps.blocks, caps.tx, units, sc.defaultParallelism)
        res, tasks = _jobs_and_tasks(spark, f"archive-{fmt}-{units}", lambda: archive(
            spark, CHAIN, root, rng, tables=BT, chunk=10, policy=policy, fmt=fmt))
        files = tree(root)
        assert res.written == len(files) == 2 * units
        assert len(tasks) == 1 and tasks[0] <= bound, (units, tasks)
        # every txes file and every other blocks file: one unit per chunk
        victims = [p for i, p in enumerate(files) if ".txes." in p or i % 4 == 0]
        delete_files(os.path.join(root, "eth"), victims)
        res, tasks = _jobs_and_tasks(spark, f"fix-{fmt}-{units}", lambda: fix(
            spark, CHAIN, root, rng, tables=BT, chunk=10, policy=policy, fmt=fmt))
        assert sum(r.written for r in res.archived) == len(victims)
        assert len(tasks) == 1 and tasks[0] <= bound, (units, tasks)
        assert tree(root) == files


@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_units_match_dataframe_path(spark, tmp_path, fmt):
    """``archive`` and ``fix`` write the files the DataFrame path
    (``fetch_*`` + ``write_range_files``/``write_piece_files``) writes: same
    names, tables equal up to ``archiveTimestamp`` (uncle columns, a
    transaction-less height's missing rows, a chunk with no transactions
    at all), edge files advertise only the requested heights, a rerun skips
    every file, and the provider's block is fetched once per height for
    all three kinds."""
    import shutil

    from pyspark.accumulators import AccumulatorParam

    from dshackle_archive_spark.sources import ref_layout
    from dshackle_archive_spark.sources.avro_io import read_archive_pdf
    from dshackle_archive_spark.sources.fetcher import fetch_blocks, fetch_table_for_heights

    class Heights(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    calls = spark.sparkContext.accumulator([], Heights())

    class CountingChain(MockChain):  # executors unpickle it by value
        def block(self, height, fork=False):
            calls.add([height])
            return super().block(height, fork)

        def block_json(self, height, fork=False):
            return json.dumps(MockChain.block(self, height, fork)).encode()

    # one tx on odd heights, none on even ones; 220..220 has no tx at all
    args = dict(head_height=10_000, txs_per_block=0, uncle_at=frozenset({196, 205}))
    chain, plain = CountingChain(**args), MockChain(**args)
    tables = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    new, old = str(tmp_path / "new"), str(tmp_path / "old")
    rng = Range(195, 220)  # unaligned at both ends: 195..199, 200..219, 220..220

    def rows(root, rel):
        kind = parse_filename(rel).kind
        by = ["height"] if kind == DataKind.BLOCKS else ["height", "index"]
        pdf = read_archive_pdf([os.path.join(root, "eth", rel)], kind.value)
        return pdf.drop(columns=["archiveTimestamp"]).sort_values(by, ignore_index=True)

    def same_trees():
        files = tree(new)
        assert tree(old) == files
        for rel in files:
            pd.testing.assert_frame_equal(rows(new, rel), rows(old, rel))
        return files

    def fetch(kind, ranges):
        if kind == DataKind.BLOCKS:
            return fetch_blocks(spark, plain, ranges, POLICY)
        return fetch_table_for_heights(spark, plain, ranges, kind.value, POLICY)

    res = archive(spark, chain, new, rng, tables=tables, chunk=20, policy=POLICY, fmt=fmt)
    assert sorted(calls.value) == list(range(195, 221))
    for kind in tables:
        ref_layout.write_range_files(fetch(kind, rng), old, "ETH", kind, chunk=20,
                                     requested=rng, fmt=fmt).collect()
    files = same_trees()
    assert len(files) == res.written == 9
    assert sorted({(r["heightStart"], r["heightEnd"]) for r in res.write_rows}) == [
        (195, 199), (200, 219), (220, 220)]
    rerun = archive(spark, chain, new, rng, tables=tables, chunk=20, policy=POLICY, fmt=fmt)
    assert (rerun.written, rerun.skipped) == (0, 9)

    # fix: 200..219 lost every kind, 195..199 only its txes
    ext = f".{fmt}"
    lost = [f"000000000/range-000000200_000000219.{k.range_ext}{ext}" for k in tables]
    lost.append(f"000000000/range-000000195_000000199.txes{ext}")
    shutil.rmtree(old)
    shutil.copytree(new, old)
    for root in (new, old):
        delete_files(os.path.join(root, "eth"), lost)
    calls.value = []  # driver-side reset
    res = fix(spark, chain, new, rng, tables=tables, chunk=20, policy=POLICY, fmt=fmt)
    assert sorted(calls.value) == list(range(195, 220))
    assert sorted(res.missing) == [("blocks", 200, 219), ("traces", 200, 219),
                                   ("transactions", 195, 219)]
    for kind in tables:
        missing = [Range(s, e) for k, s, e in res.missing if k == kind.value]
        pieces = [p for r in missing for p in r.split_chunks(20)]
        ref_layout.write_piece_files(fetch(kind, missing[0] if len(missing) == 1 else missing),
                                     old, "ETH", kind, pieces, fmt=fmt).collect()
    assert same_trees() == files
    assert sorted((r["type"], r["heightStart"], r["heightEnd"])
                  for a in res.archived for r in a.write_rows) == sorted(
        [(k.value, 200, 219) for k in tables] + [("transactions", 195, 199)])
    again = fix(spark, chain, new, rng, tables=tables, chunk=20, policy=POLICY, fmt=fmt)
    assert again.missing == [] and again.archived == []


def test_unit_fetch_honours_the_cap(spark, tmp_path):
    """A one-unit archive fetches its heights on ``cap`` threads: at blocks
    cap 4 its fetch (first call to last) takes at most half its serial
    wall, the sum of its calls' walls, and never has more than 4 provider
    calls in flight."""
    import time

    from pyspark.accumulators import AccumulatorParam

    from dshackle_archive_spark.sources.fetcher import ThreadsConfig

    class Spans(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    spans = spark.sparkContext.accumulator([], Spans())

    class SlowChain(MockChain):  # executors unpickle it by value
        def _slow(self, fn, *args):
            t0 = time.monotonic()
            time.sleep(0.02)
            out = fn(self, *args)
            spans.add([(t0, time.monotonic())])
            return out

        def block(self, height, fork=False):
            return self._slow(MockChain.block, height, fork)

        def block_json(self, height, fork=False):
            return self._slow(lambda c, h, f: json.dumps(MockChain.block(c, h, f)).encode(),
                              height, fork)

        def uncles(self, height, fork=False):
            return self._slow(MockChain.uncles, height, fork)

    policy = FetchPolicy(threads=ThreadsConfig(api=8, tx=4, trace=2, blocks=4))
    res = archive(spark, SlowChain(head_height=10_000), str(tmp_path), Range(0, 39),
                  tables=(DataKind.BLOCKS,), chunk=100, policy=policy)
    assert res.written == 1
    got = spans.value
    assert len(got) == 3 * 40
    serial = sum(e - s for s, e in got)
    wall = max(e for _, e in got) - min(s for s, _ in got)
    events = sorted([(s, 1) for s, _ in got] + [(e, -1) for _, e in got])
    in_flight = peak = 0
    for _, d in events:
        in_flight += d
        peak = max(peak, in_flight)
    assert peak <= 4, peak
    assert wall <= 0.5 * serial, (wall, serial)


def test_stream_smoke_backfill_gaps_and_fork(spark, tmp_path):
    """One small ``run_stream`` on the loop engine: ``--continue`` backfills
    the window before the head through ``fix`` (T3), a batch synthesizes
    the heights the head skipped (T4), and a fork at the head keeps both
    hash-named blocks files (T5)."""
    from dshackle_archive_spark.streaming.stream_plan import run_stream

    class AdvancingChain(MockChain):  # executors unpickle it by value
        def head(self):
            h = self.head_height
            object.__setattr__(self, "head_height", h + 2)
            return h

    chain = AdvancingChain(head_height=500, fork_at=frozenset({504}))
    root = str(tmp_path)
    archive(spark, chain, root, Range(400, 449), tables=BT, chunk=50, policy=POLICY)
    delete_files(str(tmp_path / "eth"), ["000000000/range-000000400_000000449.txes.parquet"])
    st = run_stream(spark, chain, root, tables=BT, policy=POLICY, engine="loop",
                    continue_from_archive=True, num_batches=2)
    assert sorted(st.backfilled) == [("blocks", 450, 499), ("transactions", 400, 499)]
    assert st.archived_heights == [502, 503, 504]
    files = tree(tmp_path)
    assert "000000000/range-000000400_000000499.txes.parquet" in files
    assert "000000000/range-000000450_000000499.blocks.parquet" in files
    forks = [p for p in files if p.startswith("000000000/000000000/000000504.")
             and ".block." in p]
    assert sorted(forks) == sorted(
        f"000000000/000000000/000000504.{chain.block_hash(504, fork)}.block.parquet"
        for fork in (False, True))
    assert len(files) == 3 + 2 * 3 + 1


def test_verify_merges_small_ranges_into_islands(spark, tmp_path):
    """W4 (verify.rs:237-267): adjacent ≤10-block groups are content-checked
    as one island — a parent-hash break BETWEEN two 10-block files is
    invisible to per-group windows and must still be caught."""

    class BoundaryBreakChain(MockChain):
        def block(self, height, fork=False):
            blk = super().block(height, fork)
            if height == 150:  # first block of the [150,159] file
                blk["parent"] = "WRONG"
            return blk

    chain = BoundaryBreakChain(head_height=10_000)
    # 10-block range files: [100,109] ... [190,199] — all groups <= 10 blocks
    archive(spark, chain, str(tmp_path), Range(100, 199), tables=BT, chunk=10, policy=POLICY)
    assert len(tree(tmp_path)) == 20
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, dry_run=True)
    bad = [f for f in rep.failures if f["reason"] == "blocks_content"]
    assert len(bad) == 1 and bad[0]["broken_links"] == 1
    # the whole merged island [100,199] is the failing unit
    assert bad[0]["start"] == 100 and bad[0]["end"] == 199
    # every member group's files are in the delete list
    assert len(rep.deleted) == 20 and rep.groups_ok == 0


def test_notification_payloads_match_reference_schema(spark, tmp_path):
    """S16: the notification payload stream is the reference's Notification
    JSON (notify/mod.rs:12-35) as a `value` string column — the shape every
    message connector (Pulsar/Kafka) consumes; broker = format + options."""
    from dshackle_archive_spark.sources.notify import (
        notification_json_df,
        send_notifications,
        stream_notifications,
    )

    res = archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT,
                  chunk=100, policy=POLICY, run="archive")
    wr = res.notifications.withColumn("skipped", F.lit(False)).withColumn("n_rows", F.lit(0))
    vals = [json.loads(r["value"]) for r in notification_json_df(wr).collect()]
    assert len(vals) == 2
    for v in vals:
        # exact reference field set and order (serde struct order)
        assert list(v) == ["version", "ts", "blockchain", "type", "run",
                           "heightStart", "heightEnd", "location", "maturity"]
        assert v["version"] == "https://schema.emrld.io/dshackle-archive/notify"
        assert v["blockchain"] == "ETH" and v["run"] == "archive"
        assert v["maturity"] is None  # explicit null, like serde's Option
        assert v["heightStart"] == 100 and v["heightEnd"] == 199
        assert "T" in v["ts"] and v["ts"].endswith("Z")
    assert {v["type"] for v in vals} == {"blocks", "transactions"}

    # batch send through a real Spark sink (json = the S15 directory shape;
    # pulsar/kafka are the same call with a connector format string)
    out = str(tmp_path / "notif_out")
    send_notifications(wr, "json", path=out)
    assert spark.read.json(out).count() == 2

    # streaming delivery wiring: payload stream → checkpointed memory sink
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 2).load()
        .select(
            F.lit("https://schema.emrld.io/dshackle-archive/notify").alias("version"),
            F.col("timestamp").alias("ts"),
            F.lit("ETH").alias("blockchain"),
            F.lit("blocks").alias("type"),
            F.lit("stream").alias("run"),
            F.col("value").alias("heightStart"),
            F.col("value").alias("heightEnd"),
            F.concat(F.lit("f"), F.col("value")).alias("location"),
            F.lit(None).cast("string").alias("maturity"),
        )
    )
    from dshackle_archive_spark.sources.notify import stream_notifications as sn
    q = sn(stream, "memory", str(tmp_path / "_nckpt"), query_name="notif_stream")
    try:
        import time as _time
        deadline = _time.time() + 30
        while _time.time() < deadline and not spark.sql("SELECT * FROM notif_stream").count():
            _time.sleep(0.3)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM notif_stream").collect()
    assert rows and all(json.loads(r["value"])["run"] == "stream" for r in rows)


def test_layout_sink_writes_through_filesystem_uri(spark, tmp_path):
    """S12: the task writer resolves URI roots through pyarrow.fs — no
    rename, one atomic object PUT. Exercised with file:// backing; s3://,
    gs://, hdfs:// take the identical code path."""
    from dshackle_archive_spark.sources import ref_layout
    from dshackle_archive_spark.sources.fetcher import fetch_blocks

    df = fetch_blocks(spark, CHAIN, Range(100, 149), POLICY)
    uri_root = f"file://{tmp_path}"
    wr = ref_layout.write_range_files(
        df, uri_root, "ETH", DataKind.BLOCKS, chunk=50, requested=Range(100, 149))
    rows = wr.collect()
    assert [(r["heightStart"], r["heightEnd"], r["skipped"]) for r in rows] == [
        (100, 149, False)
    ]
    local = tmp_path / "eth" / "000000000" / "range-000000100_000000149.blocks.parquet"
    assert local.exists()
    assert spark.read.parquet(str(local)).count() == 50
    # S13 idempotent skip works through the URI path too
    wr2 = ref_layout.write_range_files(
        df, uri_root, "ETH", DataKind.BLOCKS, chunk=50, requested=Range(100, 149))
    assert [r["skipped"] for r in wr2.collect()] == [True]


def test_verify_driver_inventory_bound_is_enforced(spark, tmp_path, monkeypatch):
    """Round-11 task: the per-chunk driver-state invariant is now LOUD.
    verify collects only chunk-scale metadata (path lists, group keys);
    with an absurdly small ceiling the collect fails with a RuntimeError
    naming the knob instead of silently materializing a fleet-scale list,
    and the LIMIT pushdown means it fails after cap+1 rows. At the default
    ceiling the same archive verifies clean."""
    from dshackle_archive_spark.plans.verify_plan import VERIFY_DRIVER_ROWS_ENV

    archive(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT,
            chunk=100, policy=POLICY)
    monkeypatch.setenv(VERIFY_DRIVER_ROWS_ENV, "2")  # 4 chunks > 2
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS"):
        verify(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT)
    monkeypatch.delenv(VERIFY_DRIVER_ROWS_ENV)
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT)
    assert rep.failures == [] and rep.groups_ok == 4


def test_verify_latest_stream_archive_keeps_every_file(spark, tmp_path):
    """A latest-mode stream archive names only its blocks files with the
    block hash; a height's hashless txes file belongs to that hash's group.
    Verify used to split them, mark every blocks file an overlap loser,
    delete it, and report every txes group incomplete."""
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(1_000, 1_004), tables=BT,
                          policy=POLICY, forks=True)
    before = tree(tmp_path)
    assert len(before) == 10
    rep = verify(spark, CHAIN, str(tmp_path), Range(1_000, 1_004), tables=BT)
    assert (rep.groups_total, rep.groups_ok) == (5, 5)
    assert rep.failures == [] and rep.deleted == []
    assert tree(tmp_path) == before


def _damaged_avro_archive(spark, root, groups):
    """An Avro archive of ``groups`` 100-block groups from height 0 with one
    of each damage: a gap (group 100..199 gone), a partial group (200..299
    without txes), an overlapping range file (310..319 inside 300..399) and
    a broken parent link (height 50)."""
    from dshackle_archive_spark.sources.avro_io import (
        read_avro_records,
        read_avro_schema,
        write_avro_records,
    )

    archive(spark, CHAIN, root, Range(0, groups * 100 - 1), tables=BT, chunk=100,
            policy=POLICY, fmt="avro")
    d = os.path.join(root, "eth", "000000000")

    def name(start, end, ext):
        return os.path.join(d, f"range-{start:09d}_{end:09d}.{ext}.avro")

    for ext in ("blocks", "txes"):
        os.remove(name(100, 199, ext))
    os.remove(name(200, 299, "txes"))
    for ext in ("blocks", "txes"):
        src = name(300, 399, ext)
        recs = [r for r in read_avro_records(src) if 310 <= r["height"] <= 319]
        write_avro_records(name(310, 319, ext), read_avro_schema(src), recs)
    src = name(0, 99, "blocks")
    recs = list(read_avro_records(src))
    recs[50]["parentId"] = "0" * 64
    write_avro_records(src, read_avro_schema(src), recs)


def test_verify_issues_constant_jobs_on_damaged_archive(spark, tmp_path):
    """verify's metadata work runs on the driver and its content checks in
    one fused query, so its Spark job count does not grow with the group
    count (it used to issue ~105 jobs per call)."""
    sc = spark.sparkContext

    def run(groups):
        root = str(tmp_path / f"g{groups}")
        _damaged_avro_archive(spark, root, groups)
        group = f"verify-jobs-{groups}"
        sc.setJobGroup(group, "count verify jobs")
        try:
            rep = verify(spark, CHAIN, root, Range(0, groups * 100 - 1), tables=BT,
                         dry_run=True)
        finally:
            sc.setJobGroup(None, None)
        return rep, len(sc.statusTracker().getJobIdsForGroup(group))

    (rep4, jobs4), (rep20, jobs20) = run(4), run(20)
    for rep, groups in ((rep4, 4), (rep20, 20)):
        assert sorted((f["start"], f["end"], f["reason"]) for f in rep.failures) == [
            (0, 99, "blocks_content"), (200, 299, "incomplete"), (310, 319, "overlap_loser"),
        ]
        assert rep.groups_total == groups and rep.groups_ok == groups - 3
    assert jobs4 == jobs20 <= 8, f"4 groups: {jobs4} jobs, 20 groups: {jobs20} jobs"


def test_verify_triage_attaches_hashless_files_after_fork_resolution():
    """Driver phase, no Spark: at a forked height the stale twin loses, and
    the height's hashless txes file joins the surviving hash group; a height
    that also holds a hashless blocks file keeps its groups apart (the
    overlap rule then picks one)."""
    from dshackle_archive_spark.plans.verify_plan import _triage

    live, stale = "a" * 64, "b" * 64
    rows = [
        (f"7.{live}.block", "blocks", 7, 7, live),
        (f"7.{stale}.block", "blocks", 7, 7, stale),
        ("7.txes", "transactions", 7, 7, None),
        (f"8.{live}.block", "blocks", 8, 8, live),
        ("8.block", "blocks", 8, 8, None),
        ("8.txes", "transactions", 8, 8, None),
    ]
    tri = _triage(rows, Range(7, 8), ("blocks", "transactions"), lambda h: live, False)
    assert tri.groups_total == 4  # 7's txes file joined its hash group
    assert sorted((f["start"], f["reason"]) for f in tri.failures) == [
        (7, "fork_loser"), (8, "overlap_loser"),
    ]
    assert tri.to_delete == {f"7.{stale}.block", f"8.{live}.block"}
    assert tri.island_files == {
        (7, 8): [(f"7.{live}.block", 7, 7), ("7.txes", 7, 7), ("8.block", 8, 8), ("8.txes", 8, 8)]
    }
