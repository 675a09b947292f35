"""Seeded inputs: workload sizes, the fork-free chain window, the open-loop
head schedule and the repair damage plan.

Everything here is pure Python and a function of the seed alone, so the
same seed gives the same inputs. The seed moves *where* the work happens
(start heights, damaged groups, arrival jitter), never *how much* work
there is, so runs with different seeds are comparable.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# Workload sizes. Heights start on a multiple of 1,000, so every seed sees
# the same per-height transaction counts (MockChain gives odd heights one
# extra transaction).
BACKFILL_HEIGHTS = 4_000
BACKFILL_CHUNK = 1_000  # the reference default
WARMUP_HEIGHTS = 100

LIVE_RATE_PER_S = 5.0  # head advance rate; the seed keeps up with it
LIVE_CHUNK = 50
LIVE_MIN_HEIGHTS = 100  # p90 needs at least ten samples beyond it

REPAIR_HEIGHTS = 1_000
REPAIR_CHUNK = 100
REPAIR_KINDS = ("blocks", "transactions")  # the CLI's default tables
REPAIR_GAPS = 2  # groups whose files are all deleted
REPAIR_PARTIAL = 3  # groups with one kind's file deleted
REPAIR_OVERLAPS = 2  # extra range files overlapping a group
REPAIR_BROKEN = 2  # blocks files with a broken parent link

KINDS = ("blocks", "transactions", "traces")


def start_height(seed: int, salt: str) -> int:
    """A seeded start height, aligned to 1,000 and far from genesis."""
    return random.Random(f"{seed}:{salt}").randrange(1_000, 9_000) * 1_000


def txs_at(height: int, txs_per_block: int = 2) -> int:
    """Transactions MockChain puts in ``height``."""
    return txs_per_block + (height % 2)


def expected_rows(lo: int, hi: int, txs_per_block: int = 2) -> dict[str, int]:
    """Rows per table that archiving ``[lo, hi]`` must produce."""
    txs = sum(txs_at(h, txs_per_block) for h in range(lo, hi + 1))
    return {"blocks": hi - lo + 1, "transactions": txs, "traces": txs}


@dataclass(frozen=True)
class HeadSchedule:
    """Open-loop head: height ``start + i`` is due ``i / rate`` seconds after
    ``t0`` plus a seeded jitter below half an interval, so due times stay
    strictly increasing. Blocks arrive on this schedule whether or not the
    archiver keeps up."""

    start: int
    count: int
    rate: float
    jitter: tuple[float, ...]
    t0: float = 0.0

    @classmethod
    def make(cls, seed: int, start: int, count: int, rate: float) -> "HeadSchedule":
        rng = random.Random(f"{seed}:head")
        return cls(start, count, rate, tuple(rng.uniform(0, 0.5 / rate) for _ in range(count)))

    def started(self, t0: float) -> "HeadSchedule":
        return HeadSchedule(self.start, self.count, self.rate, self.jitter, t0)

    @property
    def end(self) -> int:
        return self.start + self.count - 1

    def due(self, height: int) -> float:
        i = height - self.start
        return self.t0 + i / self.rate + self.jitter[i]

    def head_at(self, now: float) -> int | None:
        """Highest height due by ``now``; None before the first one."""
        i = min(int((now - self.t0) * self.rate) + 1, self.count - 1)
        while i >= 0 and self.due(self.start + i) > now:
            i -= 1
        return None if i < 0 else self.start + i


@dataclass(frozen=True, order=True)
class Overlap:
    start: int
    end: int


@dataclass(frozen=True, order=True)
class Broken:
    group: int  # group start height
    index: int  # record within the blocks file whose parent link breaks


@dataclass(frozen=True)
class DamagePlan:
    """Seeded damage for a reference-layout archive of aligned groups."""

    lo: int
    hi: int
    chunk: int
    kinds: tuple[str, ...]
    gaps: tuple[int, ...]  # group starts with every file deleted
    partial: tuple[tuple[int, str], ...]  # (group start, deleted kind)
    overlaps: tuple[Overlap, ...]  # extra range files, inside one group
    broken: tuple[Broken, ...]
    expected_reasons: dict = field(default_factory=dict, compare=False)

    def group_end(self, g: int) -> int:
        return g + self.chunk - 1

    def missing_after_verify(self) -> list[tuple[int, int]]:
        """Ranges the repair's ``fix`` must restore for every kind: gaps,
        plus the groups the first verify deletes (incomplete and broken)."""
        groups = {*self.gaps, *(g for g, _ in self.partial), *(b.group for b in self.broken)}
        return merge_adjacent([(g, self.group_end(g)) for g in groups])


def damage_plan(
    seed: int, lo: int, hi: int, chunk: int, kinds: tuple[str, ...] = REPAIR_KINDS
) -> DamagePlan:
    """Pick distinct groups of ``[lo, hi]`` for each kind of damage."""
    rng = random.Random(f"{seed}:damage")
    groups = list(range(lo, hi + 1, chunk))
    n = REPAIR_GAPS + REPAIR_PARTIAL + REPAIR_OVERLAPS + REPAIR_BROKEN
    if n > len(groups):
        raise ValueError(f"{len(groups)} groups cannot hold {n} damaged ones")
    picked = rng.sample(groups, n)
    gaps = tuple(sorted(picked[:REPAIR_GAPS]))
    rest = picked[REPAIR_GAPS:]
    partial = tuple(sorted((g, rng.choice(kinds)) for g in rest[:REPAIR_PARTIAL]))
    rest = rest[REPAIR_PARTIAL:]
    overlaps = []
    for g in sorted(rest[:REPAIR_OVERLAPS]):
        # strictly inside its host group, never touching a neighbour
        length = rng.randint(chunk // 10, chunk // 2)
        off = rng.randint(1, chunk - length - 1)
        overlaps.append(Overlap(g + off, g + off + length - 1))
    rest = rest[REPAIR_OVERLAPS:]
    broken = tuple(sorted(Broken(g, rng.randint(1, chunk - 1)) for g in rest[:REPAIR_BROKEN]))
    return DamagePlan(
        lo, hi, chunk, kinds, gaps, partial, tuple(overlaps), broken,
        expected_reasons={
            "incomplete": REPAIR_PARTIAL,
            "overlap_loser": REPAIR_OVERLAPS,
            "blocks_content": REPAIR_BROKEN,
        },
    )


def merge_adjacent(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union of inclusive ranges, joining touching ones."""
    out: list[tuple[int, int]] = []
    for s, e in sorted(ranges):
        if out and s <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out
