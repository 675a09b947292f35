#!/usr/bin/env python
"""Metadata-scale stress probe: the 100 TB control plane, measured.

A 100 TB archive at ~1 MB/block and 1000-block range files is ~10⁸ heights
and ~10⁶ files — the INVENTORY is what verify/fix/compact actually shuffle,
and PERF.md's claim that it stays cheap deserves a number, not an estimate.
This script synthesizes those sizes (pure ``spark.range`` arithmetic — no
disk, no testdata writes) with planted defects, runs the real operators, and
prints one JSON line of wall times:

- J3  group_ranges over a 1.05M-file inventory (3 kinds × 350k ranges,
  planted missing-kind holes and duplicate files)
- A4  incomplete_groups over those groups
- W3  dedup_largest_covering over overlapping range rows
- A3  gaps_direct over 10⁸ covered heights with planted gaps (exact
  expected gap count asserted)
- compact's driver gate: 10⁴ chunk verdicts over the scope's rows of the
  same inventory (plain Python, as ``compact`` runs it)

Run: ``python examples/stress_metadata.py`` (env: SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dshackle_archive_spark.core.ranges import Range
from dshackle_archive_spark.operators.intervals import gaps_direct
from dshackle_archive_spark.operators.inventory import (
    dedup_largest_covering,
    group_ranges,
    incomplete_groups,
)
from dshackle_archive_spark.plans.compact_plan import _gate
from dshackle_archive_spark.session import get_spark

N_RANGES = 350_000          # × 3 kinds ≈ 1.05M inventory rows
N_HEIGHTS = 100_000_000
CHUNK = 1000


def build_inventory(spark):
    """1.05M file rows with planted defects: every 1000th range is missing
    its traces file; every 2500th range has a duplicate transactions file."""
    base = (
        spark.range(N_RANGES)
        .select(
            (F.col("id") * CHUNK).alias("start"),
            (F.col("id") * CHUNK + CHUNK - 1).alias("end"),
            F.lit(None).cast("string").alias("hash"),
        )
    )
    kinds = spark.createDataFrame(
        [("blocks",), ("transactions",), ("traces",)], "kind string"
    )
    inv = (
        base.crossJoin(F.broadcast(kinds))
        .filter(~((F.col("kind") == "traces") & (F.col("start") % (1000 * CHUNK) == 0)))
        .select(
            "start",
            "end",
            "hash",
            "kind",
            F.concat_ws(
                "/", F.lit("eth"), F.col("kind"),
                F.concat(F.col("start").cast("string"), F.lit(".parquet")),
            ).alias("path"),
        )
    )
    dups = inv.filter(
        (F.col("kind") == "transactions") & (F.col("start") % (2500 * CHUNK) == 0)
    ).withColumn("path", F.concat(F.col("path"), F.lit(".dup")))
    return inv.unionByName(dups)


def timed(label, fn, out):
    t0 = time.perf_counter()
    n = fn()
    dt = round(time.perf_counter() - t0, 2)
    out[label] = {"seconds": dt, "rows": n}
    print(f"  {label}: {n:,} rows in {dt} s", file=sys.stderr)
    return n


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("stress-metadata", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_inventory_files": None, "n_heights": N_HEIGHTS}
    t_all = time.perf_counter()

    inv = build_inventory(spark).localCheckpoint(eager=True)
    out["n_inventory_files"] = inv.count()

    groups = group_ranges(inv)
    timed("j3_group_ranges_1M_files", lambda: groups.count(), out)
    n_inc = timed(
        "a4_incomplete_groups", lambda: incomplete_groups(groups).count(), out
    )
    assert n_inc == N_RANGES // 1000, n_inc  # exactly the planted holes

    # W3 over overlapping ranges: every 10th file also has a half-offset
    # shadow range, so the largest-covering filter has real work
    shadow = inv.filter(F.col("start") % (10 * CHUNK) == 0).select(
        (F.col("start") + CHUNK // 2).alias("start"),
        (F.col("end") + CHUNK // 2).alias("end"),
        "hash", "kind",
        F.concat(F.col("path"), F.lit(".shadow")).alias("path"),
    )
    w3_in = group_ranges(inv.unionByName(shadow))
    timed("w3_dedup_largest_covering", lambda: dedup_largest_covering(w3_in).count(), out)

    # A3 at 10⁸ heights: drop 1000 fixed-width holes of 37 heights each
    heights = spark.range(N_HEIGHTS).filter(
        ~((F.col("id") % 100_000 >= 50_000) & (F.col("id") % 100_000 < 50_037))
    ).select(F.col("id").alias("height"))
    n_gaps = timed(
        "a3_gaps_direct_100M_heights",
        lambda: gaps_direct(heights, 0, N_HEIGHTS - 1).count(),
        out,
    )
    assert n_gaps == N_HEIGHTS // 100_000, n_gaps

    # compact gate: 10⁴ chunk verdicts over the scope's inventory rows
    rng = Range(0, 10_000 * CHUNK - 1)
    chunks = rng.split_chunks(CHUNK, aligned=True)
    rows = [
        tuple(r)
        for r in inv.filter(F.col("start") <= rng.end)
        .select("path", "kind", "start", "end", "hash")
        .collect()
    ]

    def gate():
        skipped, passing = _gate(rows, chunks, ("blocks", "transactions"), CHUNK)
        return len(skipped) + len(passing)

    timed("compact_gate_10k_chunks", gate, out)

    out["total_seconds"] = round(time.perf_counter() - t_all, 1)
    out["cpus"] = int(cpus)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
