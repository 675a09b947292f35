"""The three workloads: set-up, timed workflow calls and output checks.

Each workload drives the archiver only through its public workflow entry
points against a fork-free ``MockChain``:

- ``backfill``: ``archive`` a range with all three tables as parquet in
  1,000-block chunks, then ``verify`` it. Data-heavy.
- ``live_follow``: an open-loop head feeds ``stream_batch`` (blocks + txes,
  parquet, ``follow="latest"``); once whole chunks have streamed they are
  ``compact``-ed. Many tiny files, job-launch bound.
- ``repair``: an Avro archive of 100-block groups gets seeded damage, then
  ``verify(fix_clean=True)``, ``fix`` and a final ``verify`` run. Metadata-
  heavy.

A workload keeps starting timed cycles until ``seconds`` of timed work
have passed (at least one); ``live_follow`` instead streams for about
``seconds`` and compacts once.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from . import files, inputs
from .stats import median, open_loop_latencies, percentile
from .tracing import Tracer


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    trace: bool
    calls: int = 0
    failed_calls: int = 0
    checks: list = field(default_factory=list)  # (name, ok, detail)
    sizes: dict = field(default_factory=dict)
    chain: object = None
    counter: object = None  # provider-call accumulator (traced runs)

    def make_chain(self, head: int):
        from dshackle_archive_spark.sources.mock_chain import MockChain

        if not self.trace:
            return MockChain(head_height=head)
        from .chain import CountingChain

        self.counter = self.spark.sparkContext.accumulator(0)
        return CountingChain(head_height=head, calls=self.counter)

    def call(self, name: str, fn, summary=None):
        """One timed workflow call; a raised error counts as a failed call.
        ``summary(result)`` adds figures from the result to the call's span."""
        self.calls += 1
        with self.tracer.span(name, spark=True) as rec:
            try:
                out = fn()
                if summary is not None:
                    rec.update(summary(out))
                return out
            except Exception:
                self.failed_calls += 1
                rec["error"] = traceback.format_exc(limit=3)
                traceback.print_exc(file=sys.stderr)
                return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return bool(ok)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def _verified(rep) -> dict:
    return {"groups": rep.groups_total, "groups_failed": rep.groups_total - rep.groups_ok}


def _kinds(*names):
    from dshackle_archive_spark.core.filenames import DataKind

    return tuple(DataKind(n) for n in names)


@dataclass
class Result:
    e2e: dict  # blocks_per_s, latency_p50_s, latency_p90_s, stored_bytes_per_block
    detail: dict  # the workload's own named figures
    layer_inputs: dict  # what the traced layer timings run on


# -- backfill -----------------------------------------------------------------

def backfill_setup(ctx: Ctx) -> dict:
    from dshackle_archive_spark.core.ranges import Range
    from dshackle_archive_spark.plans.archive_plan import archive

    start = inputs.start_height(ctx.seed, "backfill")
    ctx.chain = ctx.make_chain(start + 1_000_000)
    ctx.sizes.update(heights_per_cycle=inputs.BACKFILL_HEIGHTS, chunk=inputs.BACKFILL_CHUNK,
                     tables=3, start=start)
    # warm-up: Python workers, the fetch and the range-file sink
    warm = Range(start - 10_000, start - 10_000 + inputs.WARMUP_HEIGHTS - 1)
    with ctx.tracer.span("setup.archive", spark=True):
        archive(ctx.spark, ctx.chain, ctx.path("warm"), warm, tables=_kinds(*inputs.KINDS),
                chunk=inputs.BACKFILL_CHUNK)
    return {"start": start}


def backfill_run(ctx: Ctx, st: dict) -> Result:
    from dshackle_archive_spark.core.ranges import Range
    from dshackle_archive_spark.plans.archive_plan import archive
    from dshackle_archive_spark.plans.verify_plan import verify

    tables = _kinds(*inputs.KINDS)
    n = inputs.BACKFILL_HEIGHTS
    cycles = []
    timed = 0.0
    while not cycles or timed < ctx.seconds:
        i = len(cycles)
        lo = st["start"] + i * 2 * n
        rng = Range(lo, lo + n - 1)
        root = ctx.path(f"backfill-{i}")
        with ctx.tracer.span("backfill.cycle") as cyc:
            res = ctx.call("archive", lambda: archive(
                ctx.spark, ctx.chain, root, rng, tables=tables, chunk=inputs.BACKFILL_CHUNK))
            a_rec = ctx.tracer.spans[-1]
            rep = ctx.call("verify", lambda: verify(ctx.spark, ctx.chain, root, rng, tables=tables),
                           summary=_verified)
            v_rec = ctx.tracer.spans[-1]
        timed += _dur(cyc)
        cycles.append({"archive_s": _dur(a_rec), "verify_s": _dur(v_rec), "wall_s": _dur(cyc),
                       "root": root, "lo": rng.start, "hi": rng.end})
        _check_backfill(ctx, i, res, rep, root, rng)
    walls = [c["wall_s"] for c in cycles]
    first = cycles[0]
    stored = files.total_bytes(first["root"]) / n
    return Result(
        e2e={
            "blocks_per_s": median(n / w for w in walls),
            # every height of a cycle is due when it starts and checked
            # when its verify returns
            "latency_p50_s": percentile(walls, 50),
            "latency_p90_s": percentile(walls, 90),
            "stored_bytes_per_block": stored,
        },
        detail={
            "cycles": len(cycles),
            "archive_blocks_per_s": median(n / c["archive_s"] for c in cycles),
            "verify_blocks_per_s": median(n / c["verify_s"] for c in cycles),
            "archive_bytes_per_block": stored,
        },
        layer_inputs={"workload": "backfill", "root": first["root"], "lo": first["lo"],
                      "hi": first["hi"], "tables": inputs.KINDS, "fmt": "parquet",
                      "inventory_root": lambda: first["root"],
                      "fetched_heights": n * len(cycles), "timed_s": timed},
    )


def _check_backfill(ctx: Ctx, i: int, res, rep, root: str, rng) -> None:
    groups = len(range(rng.start, rng.end + 1, inputs.BACKFILL_CHUNK))
    ctx.check(f"backfill[{i}].archive_written", res is not None and res.written == 3 * groups,
              f"written={getattr(res, 'written', None)} want {3 * groups}")
    ctx.check(f"backfill[{i}].verify_clean",
              rep is not None and not rep.failures and rep.groups_ok == rep.groups_total == groups,
              f"groups={getattr(rep, 'groups_total', None)} ok={getattr(rep, 'groups_ok', None)} "
              f"failures={getattr(rep, 'failures', None)}")
    want = inputs.expected_rows(rng.start, rng.end)
    got = {k: files.parquet_rows(ps) for k, ps in files.by_kind(root).items()}
    ctx.check(f"backfill[{i}].rows", got == want, f"rows={got} want {want}")


# -- live_follow --------------------------------------------------------------

def live_follow_setup(ctx: Ctx) -> dict:
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.streaming.stream_plan import StreamState, stream_batch

    start = inputs.start_height(ctx.seed, "live_follow")
    chunk = inputs.LIVE_CHUNK
    count = max(inputs.LIVE_MIN_HEIGHTS, int(inputs.LIVE_RATE_PER_S * ctx.seconds) // chunk * chunk)
    sched = inputs.HeadSchedule.make(ctx.seed, start, count, inputs.LIVE_RATE_PER_S)
    ctx.chain = ctx.make_chain(start + count + 1_000_000)
    ctx.sizes.update(heights=count, chunk=chunk, rate_per_s=inputs.LIVE_RATE_PER_S,
                     tables=2, start=start)
    # warm-up: a batch on heights the timed part never touches
    warm = start - 10_000
    with ctx.tracer.span("setup.stream_batch", spark=True):
        stream_batch(ctx.spark, ctx.chain, ctx.path("warm"), StreamState(warm - 3),
                     _kinds("blocks", "transactions"), FetchPolicy(), follow="latest",
                     head_fn=lambda: warm)
    return {"sched": sched}


def live_follow_run(ctx: Ctx, st: dict) -> Result:
    from dshackle_archive_spark.core.ranges import Range
    from dshackle_archive_spark.plans.compact_plan import compact
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.streaming.stream_plan import StreamState, stream_batch

    tables = _kinds("blocks", "transactions")
    root = ctx.path("live")
    policy = FetchPolicy()
    sched = st["sched"].started(time.perf_counter())
    state = StreamState(last_archived=sched.start - 1)
    batches = []  # (poll, end, heights)
    backlog = []
    stream_busy = 0.0
    while state.last_archived < sched.end:
        idle = sched.due(state.last_archived + 1) - time.perf_counter()
        if idle > 0:
            time.sleep(idle)
        polled = []

        def head():
            now = time.perf_counter()
            polled.append(now)
            return sched.head_at(now)

        before = len(state.archived_heights)
        ctx.call("stream_batch", lambda: stream_batch(
            ctx.spark, ctx.chain, root, state, tables, policy, follow="latest", head_fn=head))
        rec = ctx.tracer.spans[-1]
        new = state.archived_heights[before:]
        if rec.get("error") or not new:
            break  # a failed batch: the checks below report it
        stream_busy += _dur(rec)
        rec["heights"] = len(new)
        batches.append((polled[0], rec["end"], new))
        backlog.append(sched.head_at(rec["end"]) - state.last_archived)
    latency, wait = open_loop_latencies(batches, sched.due)
    rng = Range(sched.start, sched.end)
    pre_compact = ctx.path("live-pre-compact")
    if ctx.trace:  # the traced inventory timings run on the streamed singles
        shutil.copytree(root, pre_compact)
    res = ctx.call("compact", lambda: compact(
        ctx.spark, root, ctx.chain.blockchain_id, rng, tables=tables, chunk=inputs.LIVE_CHUNK,
        block_json_schema=ctx.chain.block_json_schema, tx_list_field=ctx.chain.tx_list_field),
        summary=lambda r: {"chunks_compacted": len(r.compacted_chunks),
                           "sources_deleted": len(r.deleted)})
    compact_s = _dur(ctx.tracer.spans[-1])
    _check_live(ctx, state, res, root, sched)
    lat = list(latency.values()) or [float("nan")]
    return Result(
        e2e={
            # the stream runs batch after batch at any affordable rate, so
            # its busy time tracks the rate; compaction is the throughput
            "blocks_per_s": sched.count / compact_s,
            "latency_p50_s": percentile(lat, 50),
            "latency_p90_s": percentile(lat, 90),
            "stored_bytes_per_block": files.total_bytes(root) / sched.count,
        },
        detail={
            "stream_latency_p50_s": percentile(lat, 50),
            "stream_latency_p90_s": percentile(lat, 90),
            "latency_samples": len(latency),
            "batches": len(batches),
            "max_backlog": max(backlog, default=0),
            "compact_blocks_per_s": sched.count / compact_s,
            "stream_wait_p50_s": percentile(list(wait.values()) or [float("nan")], 50),
        },
        layer_inputs={"workload": "live_follow", "root": root, "lo": sched.start,
                      "hi": sched.end, "tables": ("blocks", "transactions"), "fmt": "parquet",
                      "inventory_root": lambda: pre_compact, "wait": list(wait.values()),
                      "fetched_heights": sched.count, "timed_s": stream_busy + compact_s},
    )


def _check_live(ctx: Ctx, state, res, root: str, sched) -> None:
    want = list(range(sched.start, sched.end + 1))
    ctx.check("live.streamed_once", state.archived_heights == want,
              f"streamed {len(state.archived_heights)} heights, want {len(want)}")
    chunks = [(s, s + inputs.LIVE_CHUNK - 1)
              for s in range(sched.start, sched.end, inputs.LIVE_CHUNK)]
    got = sorted(res.compacted_chunks) if res is not None else None
    ctx.check("live.compacted_chunks", got == chunks, f"compacted={got} want {chunks}")
    singles = [p for p in files.listing(root) if (files.parse(p) or (0, 0, 0, False))[3]]
    ctx.check("live.no_singles", not singles, f"{len(singles)} single-block files remain")
    kinds = files.by_kind(root)
    heights = sorted(files.parquet_column(kinds["blocks"], "height"))
    ctx.check("live.blocks_once", heights == want,
              f"{len(heights)} block rows for {len(want)} heights")
    txids = files.parquet_column(kinds["transactions"], "txid")
    n_tx = inputs.expected_rows(sched.start, sched.end)["transactions"]
    ctx.check("live.txes_once", len(txids) == len(set(txids)) == n_tx,
              f"{len(txids)} tx rows ({len(set(txids))} distinct), want {n_tx}")


# -- repair -------------------------------------------------------------------

def repair_setup(ctx: Ctx) -> dict:
    from dshackle_archive_spark.core.ranges import Range
    from dshackle_archive_spark.plans.archive_plan import archive

    lo = inputs.start_height(ctx.seed, "repair")
    hi = lo + inputs.REPAIR_HEIGHTS - 1
    ctx.chain = ctx.make_chain(hi + 1_000_000)
    plan = inputs.damage_plan(ctx.seed, lo, hi, inputs.REPAIR_CHUNK, inputs.REPAIR_KINDS)
    template = ctx.path("template")
    with ctx.tracer.span("setup.archive", spark=True):
        archive(ctx.spark, ctx.chain, template, Range(lo, hi),
                tables=_kinds(*inputs.REPAIR_KINDS), chunk=inputs.REPAIR_CHUNK, fmt="avro")
    ctx.sizes.update(heights=inputs.REPAIR_HEIGHTS, chunk=inputs.REPAIR_CHUNK, tables=2,
                     groups=inputs.REPAIR_HEIGHTS // inputs.REPAIR_CHUNK, start=lo,
                     damage={"gaps": len(plan.gaps), "partial": len(plan.partial),
                             "overlaps": len(plan.overlaps), "broken": len(plan.broken)})
    return {"plan": plan, "template": template, "clean": files.listing(template)}


def _damaged_copy(st: dict, dst: str) -> str:
    shutil.copytree(st["template"], dst)
    files.apply_damage(dst, st["plan"])
    return dst


def repair_run(ctx: Ctx, st: dict) -> Result:
    from dshackle_archive_spark.core.ranges import Range
    from dshackle_archive_spark.plans.fix_plan import fix
    from dshackle_archive_spark.plans.verify_plan import verify

    plan = st["plan"]
    tables = _kinds(*inputs.REPAIR_KINDS)
    rng = Range(plan.lo, plan.hi)
    n = plan.hi - plan.lo + 1
    cycles = []
    timed = 0.0
    while not cycles or timed < ctx.seconds:
        i = len(cycles)
        root = _damaged_copy(st, ctx.path(f"repair-{i}"))
        with ctx.tracer.span("repair.cycle") as cyc:
            first = ctx.call("verify", lambda: verify(
                ctx.spark, ctx.chain, root, rng, tables=tables, fix_clean=True),
                summary=_verified)
            fixed = ctx.call("fix", lambda: fix(
                ctx.spark, ctx.chain, root, rng, tables=tables, chunk=inputs.REPAIR_CHUNK,
                fmt="avro"), summary=lambda r: {"gaps": len(r.missing)})
            final = ctx.call("verify", lambda: verify(
                ctx.spark, ctx.chain, root, rng, tables=tables), summary=_verified)
        timed += _dur(cyc)
        cycles.append({"wall_s": _dur(cyc), "root": root})
        _check_repair(ctx, i, plan, first, fixed, final, root, st["clean"])
    walls = [c["wall_s"] for c in cycles]
    missing = plan.missing_after_verify()
    return Result(
        e2e={
            "blocks_per_s": median(n / w for w in walls),
            "latency_p50_s": percentile(walls, 50),
            "latency_p90_s": percentile(walls, 90),
            "stored_bytes_per_block": files.total_bytes(cycles[0]["root"]) / n,
        },
        detail={"cycles": len(cycles), "repair_s": median(walls)},
        layer_inputs={"workload": "repair", "root": cycles[0]["root"], "lo": plan.lo,
                      "hi": plan.hi, "tables": plan.kinds, "fmt": "avro",
                      "missing": missing, "chunk": inputs.REPAIR_CHUNK,
                      "inventory_root": lambda: _damaged_copy(st, ctx.path("repair-layers")),
                      "fetched_heights": sum(e - s + 1 for s, e in missing) * len(cycles),
                      "timed_s": timed},
    )


def _check_repair(ctx, i, plan, first, fixed, final, root, clean) -> None:
    reasons = dict(Counter(f["reason"] for f in first.failures)) if first else None
    ctx.check(f"repair[{i}].damage_reported", reasons == plan.expected_reasons,
              f"reasons={reasons} want {plan.expected_reasons}")
    want = {k: plan.missing_after_verify() for k in plan.kinds}
    got = None
    if fixed is not None:
        got = {k: [] for k in plan.kinds}
        for kind, s, e in fixed.missing:
            got.setdefault(kind, []).append((s, e))
        got = {k: inputs.merge_adjacent(v) for k, v in got.items()}
    ctx.check(f"repair[{i}].gaps_found", got == want, f"missing={got} want {want}")
    groups = (plan.hi - plan.lo + 1) // plan.chunk
    ctx.check(f"repair[{i}].final_clean",
              final is not None and not final.failures
              and final.groups_ok == final.groups_total == groups,
              f"groups={getattr(final, 'groups_total', None)} "
              f"ok={getattr(final, 'groups_ok', None)} failures={getattr(final, 'failures', None)}")
    now = files.listing(root)
    ctx.check(f"repair[{i}].coverage_restored", now == clean,
              f"{len(set(clean) - set(now))} files missing, {len(set(now) - set(clean))} extra")


WORKLOADS = {
    "backfill": (backfill_setup, backfill_run),
    "live_follow": (live_follow_setup, live_follow_run),
    "repair": (repair_setup, repair_run),
}
