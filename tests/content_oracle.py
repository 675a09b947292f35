"""Reference oracle for ``verify``'s content phase: the fused Spark SQL
query that judged island content before the checks became the pandas
kernel ``core.content.island_stats``.

The query is kept here verbatim so the differential test can compare the
kernel's verdicts with it on randomly damaged archives. Only its read
differs: each file is read on the driver with ``read_archive_pdf`` and
tagged with its island, instead of through a per-file-column Spark read.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dshackle_archive_spark.core.content import TX_PAYLOADS
from dshackle_archive_spark.plans.verify_plan import TX_REASONS
from dshackle_archive_spark.sources.avro_io import read_archive_pdf

ISLAND = ["g_start", "g_end"]
_COLUMNS = {
    "blocks": [("height", T.LongType()), ("blockId", T.StringType()),
               ("parentId", T.StringType()), ("json", T.BinaryType())],
    "transactions": [("txid", T.StringType()), ("json", T.BinaryType()),
                     ("raw", T.BinaryType())],
    "traces": [("txid", T.StringType()), ("traceJson", T.BinaryType()),
               ("stateDiffJson", T.BinaryType())],
}


def _payload_invalid(col: str) -> F.Column:
    c = F.col(col)
    return c.isNull() | (F.length(c) == 0) | (c.cast("string") == "null")


def _read_kind(spark, base: str, reads, kind: str):
    """One kind's rows, each carrying its file's island; None when there
    is nothing to read."""
    files = [(p, s, e) for (s, e), kinds in reads.items() for p in kinds.get(kind, ())]
    if not files:
        return None
    cols = [c for c, _t in _COLUMNS[kind]]
    frames = []
    for path, s, e in files:
        pdf = read_archive_pdf([os.path.join(base, path)], kind)[cols]
        frames.append(pdf.assign(g_start=s, g_end=e))
    schema = T.StructType([T.StructField(c, t, True) for c, t in _COLUMNS[kind]]
                          + [T.StructField(c, T.LongType(), False) for c in ISLAND])
    return spark.createDataFrame(pd.concat(frames, ignore_index=True), schema)


def content_failures(spark, provider, base: str, reads) -> list[dict]:
    """The old step 7 over ``_triage``'s reads (island -> kind -> paths):
    one fused query and one collect of one stats row per island; the
    verdicts are drawn on the driver."""
    bdf = _read_kind(spark, base, reads, "blocks")
    if bdf is None:
        return []
    actual, checked = [], []
    for kind, payload in TX_PAYLOADS.items():
        tdf = _read_kind(spark, base, reads, kind)
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
        if not r["n_rows"]:
            continue
        s, e = r["g_start"], r["g_end"]
        live = provider.block_hash(e)
        ok = (
            r["n_rows"] == r["n_heights"] == e - s + 1
            and r["broken_links"] == 0
            and r["bad_json"] == 0
            and (r["top"] is None or live is None or r["top"] == live)
        )
        if not ok:
            failures.append({"start": s, "end": e, "reason": "blocks_content",
                             "broken_links": r["broken_links"], "bad_json": r["bad_json"]})
    for kind in checked:
        for r in stats:
            if not r["n_expected"]:
                continue
            counts = [r[f"{kind}_{c}"] for c in ("missing", "unexpected", "dup", "bad_payload")]
            if any(counts):
                f = {"start": r["g_start"], "end": r["g_end"], "reason": TX_REASONS[kind]}
                if kind == "transactions":
                    f.update(n_missing=counts[0], n_unexpected=counts[1])
                failures.append(f)
    return failures
