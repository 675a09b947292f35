"""Per-layer figures for traced runs.

Two sources:

- spans around calls *inside* the workflows: the eager archive-layer
  functions (listing, inventory, delete) are wrapped for the duration of
  the timed part, and each workflow call's span carries its Spark counts;
- standalone timings: each lazy layer's public function is called on its
  own, on the same inputs the workload used, with its output forced
  through Spark's ``noop`` sink.

Every per-layer metric is reported on every workload; one that a workload
does not exercise reads 0.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from . import files, inputs
from .stats import median

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "fetcher.fetch_s": ("s", "lower"),
    "fetcher.rows_per_s": ("1/s", "higher"),
    "fetcher.tasks": ("count", "lower"),
    "fetcher.provider_calls_per_block": ("calls/block", "lower"),
    "ref_layout.write_s": ("s", "lower"),
    "ref_layout.files_written": ("count", "lower"),
    "ref_layout.bytes_written": ("bytes", "lower"),
    "ref_layout.ms_per_file": ("ms", "lower"),
    "archive.inventory_s": ("s", "lower"),
    "archive.files_listed": ("count", "lower"),
    "archive.delete_s": ("s", "lower"),
    "archive.files_deleted": ("count", "lower"),
    "avro_io.read_s": ("s", "lower"),
    "avro_io.rows_read": ("count", "higher"),
    "avro_io.rows_per_s": ("1/s", "higher"),
    "inventory.group_ranges_s": ("s", "lower"),
    "inventory.dedup_largest_covering_s": ("s", "lower"),
    "inventory.merge_small_ranges_s": ("s", "lower"),
    "inventory.find_incomplete_tables_s": ("s", "lower"),
    "intervals.merge_range_rows_s": ("s", "lower"),
    "intervals.complement_ranges_s": ("s", "lower"),
    "archive_plan.archive_s": ("s", "lower"),
    "archive_plan.jobs": ("count", "lower"),
    "archive_plan.stages": ("count", "lower"),
    "archive_plan.tasks": ("count", "lower"),
    "verify_plan.verify_s": ("s", "lower"),
    "verify_plan.self_s": ("s", "lower"),
    "verify_plan.jobs": ("count", "lower"),
    "verify_plan.stages": ("count", "lower"),
    "verify_plan.tasks": ("count", "lower"),
    "verify_plan.failed_tasks": ("count", "lower"),
    "verify_plan.groups": ("count", "higher"),
    "verify_plan.groups_failed": ("count", "lower"),
    "fix_plan.fix_s": ("s", "lower"),
    "fix_plan.jobs": ("count", "lower"),
    "fix_plan.tasks": ("count", "lower"),
    "fix_plan.gaps": ("count", "lower"),
    "compact_plan.compact_s": ("s", "lower"),
    "compact_plan.self_s": ("s", "lower"),
    "compact_plan.jobs": ("count", "lower"),
    "compact_plan.stages": ("count", "lower"),
    "compact_plan.tasks": ("count", "lower"),
    "compact_plan.chunks_compacted": ("count", "higher"),
    "compact_plan.sources_deleted": ("count", "higher"),
    "stream_plan.batch_s": ("s", "lower"),
    "stream_plan.wait_s": ("s", "lower"),
    "stream_plan.jobs_per_batch": ("count", "lower"),
    "stream_plan.tasks_per_batch": ("count", "lower"),
    "stream_plan.heights_per_batch": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.bookkeeping_s": ("s", "lower"),
}


@contextmanager
def wrapped_archive_layer(tracer):
    """Spans around the archive layer's eager calls made by the plans."""
    from dshackle_archive_spark.plans import compact_plan, fix_plan, verify_plan
    from dshackle_archive_spark.sources import archive

    saved = []

    def patch(mod, name, make):
        if hasattr(mod, name):
            orig = getattr(mod, name)
            saved.append((mod, name, orig))
            setattr(mod, name, make(orig))

    def listing(orig):
        def f(*a, **k):
            with tracer.span("archive.list") as rec:
                out = orig(*a, **k)
                rec["files"] = len(out)
            return out
        return f

    def inventory(orig):
        def f(*a, **k):
            with tracer.span("archive.inventory"):
                return orig(*a, **k)
        return f

    def delete(orig):
        def f(*a, **k):
            with tracer.span("archive.delete") as rec:
                out = orig(*a, **k)
                rec["files"] = len(out.deleted)
            return out
        return f

    patch(archive, "list_archive_files", listing)
    for mod in (verify_plan, compact_plan, fix_plan):
        patch(mod, "inventory_df", inventory)
    for mod in (verify_plan, compact_plan):
        patch(mod, "delete_files", delete)
    try:
        yield
    finally:
        for mod, name, orig in reversed(saved):
            setattr(mod, name, orig)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def standalone(ctx, li: dict) -> dict:
    """Time each lazy layer on its own over the workload's inputs."""
    from pyspark.sql import functions as F

    from dshackle_archive_spark.core.filenames import DataKind
    from dshackle_archive_spark.core.ranges import Range
    from dshackle_archive_spark.operators import intervals, inventory
    from dshackle_archive_spark.sources import archive, avro_io, fetcher, ref_layout

    spark, chain, T = ctx.spark, ctx.chain, ctx.tracer
    out: dict[str, float] = {}
    tables = li["tables"]
    lo, hi = li["lo"], li["hi"]
    ranges = [Range(s, e) for s, e in li.get("missing", [(lo, hi)])]
    fetch_rng = ranges[0] if len(ranges) == 1 else ranges

    def fetch(kind):
        if kind == "blocks":
            return fetcher.fetch_blocks(spark, chain, fetch_rng)
        return fetcher.fetch_table_for_heights(spark, chain, fetch_rng, kind)

    # fetcher
    with T.span("layer.fetcher", spark=True) as rec:
        for kind in tables:
            _noop(fetch(kind))
    rows = sum(inputs.expected_rows(r.start, r.end)[k] for r in ranges for k in tables)
    out["fetcher.fetch_s"] = rec["end"] - rec["start"]
    out["fetcher.rows_per_s"] = rows / out["fetcher.fetch_s"]
    out["fetcher.tasks"] = rec.get("tasks", 0)

    # ref_layout: the workload's own file shape, from pre-fetched rows
    dst = ctx.path("layers-ref")
    data = {k: fetch(k).cache() for k in tables}
    for df in data.values():
        df.count()
    written = []
    with T.span("layer.ref_layout", spark=True) as rec:
        for kind, df in data.items():
            dk = DataKind(kind)
            if li["workload"] == "live_follow":
                wr = ref_layout.write_single_files(
                    df, dst, chain.blockchain_id, dk, hash_in_name=dk == DataKind.BLOCKS)
            elif "missing" in li:
                pieces = [p for r in ranges for p in r.split_chunks(li["chunk"])]
                wr = ref_layout.write_piece_files(df, dst, chain.blockchain_id, dk, pieces,
                                                  fmt=li["fmt"])
            else:
                wr = ref_layout.write_range_files(df, dst, chain.blockchain_id, dk,
                                                  chunk=inputs.BACKFILL_CHUNK,
                                                  requested=Range(lo, hi))
            written.extend(r["location"] for r in wr.collect() if not r["skipped"])
    for df in data.values():
        df.unpersist()
    out["ref_layout.write_s"] = rec["end"] - rec["start"]
    out["ref_layout.files_written"] = len(written)
    out["ref_layout.bytes_written"] = sum(os.path.getsize(p) for p in written)
    out["ref_layout.ms_per_file"] = 1000 * out["ref_layout.write_s"] / max(1, len(written))
    shutil.rmtree(dst, ignore_errors=True)

    # avro_io: the format-dispatching reader over the finished archive
    paths = files.by_kind(li["root"])
    with T.span("layer.avro_io", spark=True) as rec:
        for kind in tables:
            _noop(avro_io.read_archive_data(spark, paths[kind], kind))
    out["avro_io.read_s"] = rec["end"] - rec["start"]
    out["avro_io.rows_read"] = sum(inputs.expected_rows(lo, hi)[k] for k in tables)
    out["avro_io.rows_per_s"] = out["avro_io.rows_read"] / out["avro_io.read_s"]

    # inventory and interval operators over the inventory the workflow saw
    inv = (
        archive.inventory_df(spark, li["inventory_root"](), chain.blockchain_id)
        .withColumn("hash", F.coalesce(F.col("hash"), F.lit("")))
        .cache()
    )
    inv.count()
    groups = inventory.group_ranges(inv, kinds=tables).cache()
    groups.count()
    covered = inv.select("kind", "start", "end")
    islands = intervals.merge_range_rows(covered, keys=["kind"]).cache()
    islands.count()
    timed = {
        "inventory.group_ranges_s": lambda: inventory.group_ranges(inv, kinds=tables),
        "inventory.dedup_largest_covering_s": lambda: inventory.dedup_largest_covering(groups),
        "inventory.merge_small_ranges_s": lambda: inventory.merge_small_ranges(
            groups.select("start", "end").distinct(), threshold=10),
        "inventory.find_incomplete_tables_s": lambda: inventory.find_incomplete_tables(
            inv, lo, hi, kinds=tables),
        "intervals.merge_range_rows_s": lambda: intervals.merge_range_rows(covered, keys=["kind"]),
        "intervals.complement_ranges_s": lambda: intervals.complement_ranges(
            islands, lo, hi, keys=["kind"]),
    }
    for name, build in timed.items():
        with T.span("layer." + name, spark=True) as rec:
            _noop(build())
        out[name] = rec["end"] - rec["start"]
    for df in (islands, groups, inv):
        df.unpersist()
    return out


def from_spans(T, li: dict, fetched_calls: float | None) -> dict:
    """Per-layer figures read off the workflow spans."""
    out: dict[str, float] = {}
    # a workload whose timed part never archives reports its set-up archive
    archive_spans = T.named("archive") or T.named("setup.archive")
    for layer, span, keys in (
        ("archive_plan", "archive", ("jobs", "stages", "tasks")),
        ("verify_plan", "verify",
         ("jobs", "stages", "tasks", "failed_tasks", "groups", "groups_failed")),
        ("fix_plan", "fix", ("jobs", "tasks", "gaps")),
        ("compact_plan", "compact",
         ("jobs", "stages", "tasks", "chunks_compacted", "sources_deleted")),
    ):
        spans = archive_spans if span == "archive" else T.named(span)
        out[f"{layer}.{span}_s"] = sum(s["end"] - s["start"] for s in spans)
        for k in keys:
            out[f"{layer}.{k}"] = sum(s.get(k, 0) for s in spans)
    out["verify_plan.self_s"] = T.self_total("verify")
    out["compact_plan.self_s"] = T.self_total("compact")
    out["archive.inventory_s"] = T.total("archive.inventory")
    out["archive.files_listed"] = T.total("archive.list", "files")
    out["archive.delete_s"] = T.total("archive.delete")
    out["archive.files_deleted"] = T.total("archive.delete", "files")
    batches = [s for s in T.named("stream_batch") if s.get("heights")]
    if batches:
        out["stream_plan.batch_s"] = median(s["end"] - s["start"] for s in batches)
        out["stream_plan.wait_s"] = median(li["wait"])
        for k, src in (("jobs_per_batch", "jobs"), ("tasks_per_batch", "tasks"),
                       ("heights_per_batch", "heights")):
            out[f"stream_plan.{k}"] = sum(s.get(src, 0) for s in batches) / len(batches)
    if fetched_calls is not None and li.get("fetched_heights"):
        out["fetcher.provider_calls_per_block"] = fetched_calls / li["fetched_heights"]
    return out
