"""Per-height chain fetch (S6-S8 in SURVEY §2.1).

The reference fans out per-height RPC calls under semaphore caps
(``global.rs:59-97``: api=16, blocks=api/2, tx=api/2, trace=api/4) with
10 s timeouts and exponential-backoff retries (``ethereum.rs:27-30,
104-202``). ``height_rows`` fetches every requested kind of one height from
a single fetch of its block; the workflows' fetch-and-write tasks
(``plans.archive_plan.UnitWriter``) call it per height, on a thread pool
sized so the in-flight calls of all tasks stay at the kind's cap, and
write the rows straight into their files.

With the mock provider the "RPC" is a pure function; the real-chain path
plugs an HTTP/gRPC client into the same ``FetchPolicy`` loop, which is where
the retry/backoff/timeout logic lives (Spark task retries are too coarse —
SURVEY §4).

``heights_df``, ``fetch_blocks`` and ``fetch_table_for_heights`` are the
older DataFrame form (one ``mapInPandas`` stage per kind); no workflow runs
them, only the per-layer benchmark timings and tests.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core.ranges import Range
from ..schemas import BLOCKS_SCHEMA, TRACES_SCHEMA, TRANSACTIONS_SCHEMA

MAX_THREADS = 512  # global.rs:59
DEFAULT_API_THREADS = 16  # global.rs:60

THREADS_ENV = {
    "api": "EMERALD_DSHACKLE_THREADS_API",
    "tx": "EMERALD_DSHACKLE_THREADS_TX",
    "trace": "EMERALD_DSHACKLE_THREADS_TRACE",
    "blocks": "EMERALD_DSHACKLE_THREADS_BLOCK",
}


@dataclass(frozen=True)
class ThreadsConfig:
    """Per-kind fetch rate caps (reference ``ThreadsConfig``,
    ``global.rs:59-97``)."""

    api: int
    tx: int
    trace: int
    blocks: int


def _env_threads(name: str) -> int | None:
    """``read_env`` parity (global.rs:104-106): unset OR unparseable → None
    (the reference's ``parse().ok()`` swallows bad values silently)."""
    raw = os.environ.get(name)
    if raw is None:
        return None
    try:
        v = int(raw)
    except ValueError:
        return None
    return v if v >= 0 else None  # usize can't be negative


def resolve_threads(parallel: int | None = None) -> ThreadsConfig:
    """Resolve the per-kind fetch caps with the reference's exact
    precedence and clamps (``set_threads``, ``global.rs:62-97``):

    - api: ``--parallel`` flag > ``EMERALD_DSHACKLE_THREADS_API`` env >
      default 16, then clamped to 1..512.
    - tx / trace / blocks: the matching env var (clamped only to the
      global 1..512 when set explicitly) > derived from api with the
      tighter derived clamps — tx = (api/2).clamp(1, 64),
      trace = (api/4).clamp(1, 16), blocks = (api/2).clamp(1, 64).

    A real operator migrating from the reference sets these spellings in
    a container env; honoring them is config-surface parity, not tuning.
    """
    api = parallel if parallel is not None else _env_threads(THREADS_ENV["api"])
    if api is None:
        api = DEFAULT_API_THREADS
    api = max(1, min(api, MAX_THREADS))

    def pick(kind: str, derived: int, derived_cap: int) -> int:
        explicit = _env_threads(THREADS_ENV[kind])
        if explicit is not None:
            return max(1, min(explicit, MAX_THREADS))
        return max(1, min(derived, derived_cap))

    return ThreadsConfig(
        api=api,
        tx=pick("tx", api // 2, 64),
        trace=pick("trace", api // 4, 16),
        blocks=pick("blocks", api // 2, 64),
    )


@dataclass(frozen=True)
class FetchPolicy:
    """Retry/backoff envelope mirroring the reference's RPC policy.

    ``include_call_trace`` / ``include_state_diff`` are the reference's
    ``--fields.trace`` selection (``TraceOptions``, ``datakind.rs:224-256``):
    which geth tracers the trace archive runs per transaction. Both default
    on, matching ``TraceOptions::default()``.

    ``parallel`` mirrors ``--parallel``: ``None`` means "flag absent", so
    the api cap falls through to ``$EMERALD_DSHACKLE_THREADS_API`` then the
    default 16 (``global.rs:66-76``). ``threads`` carries a pre-resolved
    ``ThreadsConfig`` (the CLI path resolves once at startup, like the
    reference's ``set_threads``); when ``None``, per-kind caps resolve
    lazily via ``thread_caps()`` — env overrides included either way."""

    parallel: int | None = None
    threads: ThreadsConfig | None = None
    attempts: int = 10
    backoff_base_s: float = 0.1
    backoff_factor: float = 1.75
    backoff_cap_s: float = 2.0
    timeout_s: float = 10.0
    include_call_trace: bool = True
    include_state_diff: bool = True

    def thread_caps(self) -> ThreadsConfig:
        """The resolved per-kind caps this policy fetches under: an
        explicit ``threads`` wins, else ``resolve_threads(self.parallel)``
        (flag > env > default, reference clamps)."""
        if self.threads is not None:
            return self.threads
        return resolve_threads(self.parallel)

    def call(self, fn: Callable, *args):
        delay = self.backoff_base_s
        last: Exception | None = None
        for _ in range(self.attempts):
            try:
                return fn(*args)
            except Exception as e:  # retryable transport error
                last = e
                time.sleep(min(delay, self.backoff_cap_s))
                delay *= self.backoff_factor
        raise last  # exhausted


def parse_trace_options(spec: str) -> tuple[bool, bool]:
    """``--fields.trace`` value → (include_call_trace, include_state_diff).

    Mirrors ``TraceOptions::from_str`` (``datakind.rs:241-256``): a
    case-insensitive comma list of ``calls`` / ``stateDiff``; at least one
    must be present."""
    tokens = {t.strip() for t in spec.lower().split(",")}
    calls, state_diff = "calls" in tokens, "statediff" in tokens
    if not calls and not state_diff:
        raise ValueError(
            "at least one of 'calls' or 'stateDiff' must be specified "
            "for trace options"
        )
    return calls, state_diff


def _now_utc() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def heights_df(
    spark: SparkSession, rng: "Range | list[Range]", parallel: int
) -> DataFrame:
    """The height domain as a DataFrame, pre-partitioned to the rate cap
    (benchmark/test only: feeds ``fetch_blocks``/``fetch_table_for_heights``).

    Accepts one range (dense ``spark.range``, no shuffle) or several disjoint
    ranges (the fix plan's gap list — unioned then round-robined so every
    fetch task carries ~equal load even when gap sizes are skewed)."""
    ranges = [rng] if isinstance(rng, Range) else list(rng)
    total = sum(len(r) for r in ranges)
    n_parts = max(1, min(parallel, total))
    if len(ranges) == 1:
        r = ranges[0]
        return spark.range(r.start, r.end + 1, 1, n_parts).withColumnRenamed("id", "height")
    df = None
    for r in ranges:
        piece = spark.range(r.start, r.end + 1)
        df = piece if df is None else df.union(piece)
    return df.repartition(n_parts).withColumnRenamed("id", "height")


def block_row(provider, h: int, policy: FetchPolicy, fork: bool = False) -> dict:
    """The blocks row of height ``h`` (reference block.rs:20-94); ``fork``
    selects the provider's fork variant, whose ``blockId`` differs."""
    blk = policy.call(provider.block, h, fork)
    # uncle payloads (ethereum.rs:243-248; schema stores the ETH-consensus
    # maximum of two)
    uncle_fn = getattr(provider, "uncles", None)
    uncles = policy.call(uncle_fn, h, fork) if uncle_fn else []
    return {
        "blockchainType": provider.blockchain_type,
        "blockchainId": provider.blockchain_id,
        "archiveTimestamp": _now_utc(),
        "height": h,
        "blockId": blk["hash"],
        "parentId": blk["parent"],
        "timestamp": pd.Timestamp(provider.block_timestamp_ms(h), unit="ms"),
        "json": policy.call(provider.block_json, h, fork),
        "unclesCount": len(uncles),
        "uncle0Json": uncles[0] if len(uncles) > 0 else None,
        "uncle1Json": uncles[1] if len(uncles) > 1 else None,
    }


def fetch_blocks(
    spark: SparkSession,
    provider,
    rng: Range,
    policy: FetchPolicy = FetchPolicy(),
) -> DataFrame:
    """Fetch the blocks table for a height range (reference block.rs:20-94).
    Benchmark/test only: the workflows fetch through ``height_rows``."""
    cap = policy.thread_caps().blocks  # blocks cap (global.rs:78-97)
    cols = [f.name for f in BLOCKS_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [block_row(provider, h, policy) for h in pdf["height"].tolist()]
            yield pd.DataFrame(rows, columns=cols)

    hs = heights_df(spark, rng, cap)
    return hs.mapInPandas(gen, schema=BLOCKS_SCHEMA)


def tx_rows(
    provider, h: int, blk_hash: str, with_traces: bool, policy: FetchPolicy
) -> list[dict]:
    """The txes (or, ``with_traces``, traces) rows of height ``h``, tagged
    with ``blk_hash``, the hash of the block they were fetched for
    (reference table.rs:17-150): one row per tx index."""
    ts = pd.Timestamp(provider.block_timestamp_ms(h), unit="ms")
    details_fn = getattr(provider, "tx_details", None)
    out = []
    for i, txid in enumerate(provider.tx_ids(h)):
        base = {
            "blockchainType": provider.blockchain_type,
            "blockchainId": provider.blockchain_id,
            "archiveTimestamp": _now_utc(),
            "height": h,
            "blockId": blk_hash,
            "timestamp": ts,
            "index": i,
            "txid": txid,
        }
        if with_traces:
            base.update(
                {
                    "traceJson": (
                        policy.call(provider.trace_json, txid)
                        if policy.include_call_trace
                        else None
                    ),
                    "stateDiffJson": (
                        policy.call(provider.state_diff_json, txid)
                        if policy.include_state_diff
                        else None
                    ),
                }
            )
        elif details_fn is not None:
            # full tx surface incl. from/to parsed out of the tx JSON
            # (ethereum.rs:274-280)
            d = policy.call(details_fn, h, txid)
            base.update(
                {
                    "json": d["json"],
                    "raw": d["raw"],
                    "from": d.get("from"),
                    "to": d.get("to"),
                    "receiptJson": d.get("receiptJson"),
                }
            )
        else:
            base.update(
                {
                    "json": policy.call(provider.tx_json, h, txid),
                    "raw": policy.call(provider.tx_raw, txid),
                    "from": None,
                    "to": None,
                    "receiptJson": policy.call(provider.receipt_json, txid),
                }
            )
        out.append(base)
    return out


def fetch_table_for_heights(
    spark: SparkSession,
    provider,
    rng: Range,
    kind: str,  # "transactions" | "traces"
    policy: FetchPolicy = FetchPolicy(),
) -> DataFrame:
    """Fetch txes/traces for a range (reference table.rs:17-150): per-height
    fan-out at the kind's rate cap, one row per (block, tx-index).
    Benchmark/test only: it fetches each height's block again per kind,
    where the workflows' ``height_rows`` fetches it once for all kinds."""
    with_traces = kind == "traces"
    caps = policy.thread_caps()
    cap = caps.trace if with_traces else caps.tx
    schema = TRACES_SCHEMA if with_traces else TRANSACTIONS_SCHEMA
    cols = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for h in pdf["height"].tolist():
                blk = policy.call(provider.block, h)
                rows.extend(tx_rows(provider, h, blk["hash"], with_traces, policy))
            yield pd.DataFrame(rows, columns=cols)

    hs = heights_df(spark, rng, cap)
    return hs.mapInPandas(gen, schema=schema)


def height_rows(
    provider, h: int, kinds, policy: FetchPolicy, forks: bool = False
) -> dict:
    """The rows of height ``h`` for each kind name in ``kinds``,
    ``{kind name: rows}``, from ONE fetch of its block: the txes/traces
    rows are tagged with the hash of the canonical block fetched here. With
    ``forks`` a height in the provider's ``fork_at`` also gets its fork
    twin's blocks row, after the canonical one (T5)."""
    out = {}
    if "blocks" in kinds:
        variants = [False, True] if forks and h in provider.fork_at else [False]
        out["blocks"] = [block_row(provider, h, policy, fork) for fork in variants]
    tx_kinds = [k for k in kinds if k != "blocks"]
    if tx_kinds:
        block_hash = (out["blocks"][0]["blockId"] if "blocks" in out
                      else policy.call(provider.block, h)["hash"])
        for k in tx_kinds:
            out[k] = tx_rows(provider, h, block_hash, k == "traces", policy)
    return out
