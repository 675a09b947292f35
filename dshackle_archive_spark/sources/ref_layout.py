"""Reference-layout file sink: one file per (range|height, kind), written
by the task that holds its rows (S11-S13 in SURVEY §2.1).

The reference appends records into exactly-named Avro files
(``fs.rs:135-219``); Spark's native ``df.write`` produces opaque part-files,
so each file is serialized with pyarrow (parquet) or the Avro container
codec and committed whole by the task that fetched or read its rows
(``write_file``): the workflows' fetch-and-write units
(``plans.archive_plan.UnitWriter``) and ``compact``'s rewrite call it
directly, so no driver collect or shuffle stands between the rows and
their file.

Idempotent writes (S13, ``create(overwrite=false)``): a task that finds its
target file already present skips it and reports ``skipped`` — the
reference's keep-existing semantics for stream/fix.

Each written file yields one notification row (S15, ``notify/mod.rs:12-35``).

``write_range_files``, ``write_piece_files`` and ``write_single_files``
(over ``_write_group_fn``) are the older DataFrame form: a shuffle on the
target file, then one ``applyInPandas`` group per file. No workflow runs
them, only the per-layer benchmark timings and tests.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.filenames import DataKind, range_file_path, single_file_path
from ..core.ranges import Range

WRITE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("version", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("blockchain", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("run", T.StringType(), False),
        T.StructField("heightStart", T.LongType(), False),
        T.StructField("heightEnd", T.LongType(), False),
        T.StructField("location", T.StringType(), False),
        T.StructField("maturity", T.StringType(), True),
        T.StructField("skipped", T.BooleanType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ]
)

VERSION = "https://schema.emrld.io/dshackle-archive/notify"


def _pa_schema(kind: DataKind):
    """Explicit pyarrow schema for the parquet sink: inference on all-null
    columns (uncle0Json in an uncle-free range) would otherwise produce a
    null-typed column that breaks schema compatibility on later reads."""
    import pyarrow as pa

    from ..schemas import TABLE_SCHEMAS

    mapping = {
        "string": pa.string(),
        "long": pa.int64(),
        "integer": pa.int32(),
        "binary": pa.binary(),
        "timestamp": pa.timestamp("us"),
    }
    fields = []
    for f in TABLE_SCHEMAS[kind.value].fields:
        fields.append(pa.field(f.name, mapping[f.dataType.typeName()], f.nullable))
    return pa.schema(fields)



def _join_path(base: str, *parts: str) -> str:
    """Join path parts under posix OR URI roots; a URI query string
    (``?endpoint_override=…`` — see the S3 stub tests) stays at the end."""
    if "://" not in base:
        return os.path.join(base, *parts)
    b, sep, q = base.partition("?")
    return "/".join([b.rstrip("/"), *parts]) + sep + q


def strip_userinfo(uri: str) -> str:
    """Credential-free form of a URI for every EMITTED path string.

    ``--auth.aws.*`` credentials ride the base dir as URI userinfo
    (``s3://KEY:SECRET@bucket/…`` — pyarrow's documented string form, which
    is how they reach executor-side ``FileSystem.from_uri`` calls). They
    must never leave the process though: write-result ``location`` fields
    are printed in the stdout result JSON, written to ``--notify-dir``
    JSONL files, and published to Pulsar/Kafka topics. The reference's
    notification locations are credential-free ``s3://bucket/path``
    (``storage/objects.rs:182``); this strips the userinfo so ours are too.
    Posix paths pass through untouched."""
    if "://" not in uri:
        return uri
    scheme, rest = uri.split("://", 1)
    authority, slash, tail = rest.partition("/")
    if "@" in authority:  # query-string '@'s are %-quoted, never raw here
        authority = authority.rsplit("@", 1)[1]
    return scheme + "://" + authority + slash + tail


def _fs_and_path(path: str):
    """Resolve a URI (``s3://…``, ``gs://…``, ``file://…``) to a pyarrow
    FileSystem + fs-native path — the S12 object-store writer seam. Plain
    posix paths never come through here (they keep the tmp+rename commit)."""
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(path)


def _fs_exists(fs, fs_path: str) -> bool:
    import pyarrow.fs as pafs

    return fs.get_file_info([fs_path])[0].type != pafs.FileType.NotFound


def _commit(path: str, payload: bytes) -> None:
    """Write one whole file so a reader never sees it half written: object
    stores (s3/gs/...) have no rename, but a single-object PUT is itself
    atomic; posix paths are written to a temp name and renamed on success
    (the reference's delete-on-drop, fs.rs:204-219)."""
    if "://" in path:
        fs, fs_path = _fs_and_path(path)
        fs.create_dir(fs_path.rsplit("/", 1)[0], recursive=True)
        with fs.open_output_stream(fs_path) as sink:
            sink.write(payload)
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".inprogress"
    try:
        with open(tmp, "wb") as sink:
            sink.write(payload)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _serialize_group(
    kind: DataKind, out: pd.DataFrame, fmt: str, compression: str = "zstd"
) -> bytes:
    """One output file's bytes (avro container or parquet).

    ``compression`` is the reference's ``--compression`` choice
    (``args.rs:102-104``, ``global.rs:34-43``): ``zstd`` (default, level 9
    for avro blocks) or ``snappy`` — applied to both formats."""
    import io

    buf = io.BytesIO()
    if fmt == "avro":
        _write_avro_pdf(buf, kind, out, compression=compression)
    else:
        # parquet TIMESTAMP(MICROS): Spark's reader rejects NANOS; explicit
        # schema keeps all-null columns correctly typed
        out.to_parquet(
            buf,
            index=False,
            schema=_pa_schema(kind),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
            compression=compression,
        )
    return buf.getvalue()


def _write_avro_pdf(
    path, kind: DataKind, out_pdf: pd.DataFrame, compression: str = "zstd"
) -> None:
    """Reference-format Avro sink: pandas rows -> Avro container records
    (timestamps become epoch-millis longs per the timestamp-millis logical
    type; NaN/NaT become nulls). zstd level 9 blocks by default — the
    reference's default compression (``src/global.rs:34-40``); ``snappy``
    selects the Codec::Snappy branch (``global.rs:37``)."""
    from ..schemas_avro import AVRO_TABLE_SCHEMAS
    from .avro_io import write_avro_records

    schema = AVRO_TABLE_SCHEMAS[kind.value]
    ts_fields = {
        f["name"]
        for f in schema["fields"]
        if isinstance(f["type"], dict) and f["type"].get("logicalType") == "timestamp-millis"
    }
    names = [f["name"] for f in schema["fields"]]
    records = []
    for row in out_pdf.to_dict("records"):
        rec = {}
        for n in names:
            v = row.get(n)
            if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT:
                rec[n] = None
            elif n in ts_fields:
                rec[n] = int(pd.Timestamp(v).value // 1_000_000)
            elif isinstance(v, (bytes, bytearray)):
                rec[n] = bytes(v)
            else:
                rec[n] = v
        records.append(rec)
    write_avro_records(
        path,
        schema,
        records,
        codec="zstandard" if compression == "zstd" else compression,
    )


_SORT_COLS = {kind: ["height"] if kind == DataKind.BLOCKS else ["height", "index"]
              for kind in DataKind}


def write_file(
    base_dir: str,
    rel: str,
    kind: DataKind,
    data: pd.DataFrame,
    lo: int,
    hi: int,
    blockchain: str,
    run: str,
    overwrite: bool,
    maturity: str | None,
    fmt: str,
    compression: str = "zstd",
) -> dict:
    """Write ``data`` (one file's rows) to ``rel`` under ``base_dir`` unless
    the file exists and ``overwrite`` is off (S13 keep-existing), and return
    its write-result row, which advertises the heights ``lo``..``hi``."""
    path = _join_path(base_dir, rel)
    if "://" in base_dir:
        skipped = _fs_exists(*_fs_and_path(path)) and not overwrite
    else:
        skipped = os.path.exists(path) and not overwrite
    if not skipped:
        out = data.sort_values(_SORT_COLS[kind])
        _commit(path, _serialize_group(kind, out, fmt, compression))
    return {
        "version": VERSION,
        "ts": datetime.now(timezone.utc).replace(tzinfo=None),
        "blockchain": blockchain,
        "type": kind.value,
        "run": run,
        "heightStart": lo,
        "heightEnd": hi,
        # locations are published (stdout JSON, notify JSONL, Pulsar) —
        # never let URI-userinfo credentials through
        "location": strip_userinfo(path),
        "maturity": maturity,
        "skipped": skipped,
        "n_rows": 0 if skipped else len(data),
    }


def _write_group_fn(
    base_dir: str,
    kind: DataKind,
    blockchain: str,
    run: str,
    chunk: "int | str | None",  # aligned width | "piece" | None (singles)
    overwrite: bool,
    maturity: str | None,
    hash_in_name: bool,
    fmt: str,
    requested: tuple[int, int] | None = None,
    compression: str = "zstd",
):
    """The ``applyInPandas`` writer of the DataFrame sinks below
    (benchmark/test only)."""
    from ..schemas import TABLE_SCHEMAS

    int_cols = {
        f.name: ("int64" if f.dataType.typeName() == "long" else "int32")
        for f in TABLE_SCHEMAS[kind.value].fields
        if f.dataType.typeName() in ("long", "integer")
    }

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # sentinel rows (all-null data columns) mark chunks of the requested
        # range that produced no rows — a transaction-less range still gets
        # its (empty) file, matching the reference's unconditional
        # target.create() (table.rs); without it verify flags the group
        # incomplete forever and fix never converges
        data = pdf[pdf["height"].notna()].drop(columns=["_file_group"])
        # the sentinel union makes int columns nullable (float64 in
        # pandas); restore exact integer dtypes before encoding
        for c, dt in int_cols.items():
            if c in data and data[c].dtype.kind == "f" and data[c].notna().all():
                data[c] = data[c].astype(dt)
        group_key = pdf["_file_group"].iloc[0]
        if chunk is None:
            lo = int(str(group_key).split("_", 1)[0])
            block_hash = (
                str(data["blockId"].iloc[0])
                if hash_in_name and len(data) and "blockId" in data
                else None
            )
            rel = single_file_path(lo, kind, block_hash=block_hash, fmt=fmt)
            lo_r, hi_r = lo, lo
        elif chunk == "piece":
            # explicit piece mode: the group key IS the advertised range
            lo_r, hi_r = (int(x) for x in str(group_key).split("_"))
            rel = range_file_path(Range(lo_r, hi_r), kind, fmt=fmt)
        else:
            # the file advertises the range it was *asked* to cover: the
            # chunk piece clipped to the requested range — never heights it
            # wasn't asked for (a partial fix range must not claim the whole
            # aligned chunk), and independent of which heights have rows
            # (empty blocks leave gaps in txes data but not in coverage)
            chunk_lo = int(group_key) * chunk
            lo_r, hi_r = chunk_lo, chunk_lo + chunk - 1
            if requested is not None:
                lo_r = max(lo_r, requested[0])
                hi_r = min(hi_r, requested[1])
            rel = range_file_path(Range(lo_r, hi_r), kind, fmt=fmt)
        row = write_file(base_dir, rel, kind, data, lo_r, hi_r, blockchain, run,
                         overwrite, maturity, fmt, compression)
        return pd.DataFrame([row])

    return write_group


def write_range_files(
    df: DataFrame,
    root: str,
    blockchain: str,
    kind: DataKind,
    chunk: int = 1000,
    run: str = "archive",
    overwrite: bool = False,
    maturity: str | None = None,
    fmt: str = "parquet",
    requested: "Range | None" = None,
    compression: str = "zstd",
) -> DataFrame:
    """Write ``df`` as reference-layout range files, one per aligned chunk
    (benchmark/test only; ``archive`` writes through ``UnitWriter``).

    ``requested`` bounds the advertised coverage of edge chunks (unaligned
    splits / fix sub-ranges), and every chunk it touches emits a file even
    with zero rows. Returns the write-result/notification DataFrame (action
    runs on count/collect). One shuffle on the chunk key; each output file
    is produced by exactly one task.
    """
    base = _join_path(root, blockchain.lower())
    req = (requested.start, requested.end) if requested is not None else None
    grouped = df.withColumn("_file_group", F.floor(F.col("height") / chunk))
    # chunk-key domain comes from the REQUEST, not the data rows: a chunk
    # with zero rows (transaction-less blocks) must still emit its file.
    # Sentinel rows are all-null and filtered inside the writer.
    if requested is not None:
        dom = df.sparkSession.range(requested.start // chunk, requested.end // chunk + 1)
        sentinels = dom.select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema.fields],
            F.col("id").cast("long").alias("_file_group"),
        )
        grouped = grouped.unionByName(sentinels)
    return grouped.groupBy("_file_group").applyInPandas(
        _write_group_fn(
            base, kind, blockchain, run, chunk, overwrite, maturity, False, fmt, req,
            compression=compression,
        ),
        schema=WRITE_RESULT_SCHEMA,
    )


def write_piece_files(
    df: DataFrame,
    root: str,
    blockchain: str,
    kind: DataKind,
    pieces: "list[tuple[int, int]] | list[Range]",
    run: str = "fix",
    overwrite: bool = False,
    maturity: str | None = None,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> DataFrame:
    """Write one range file per explicit ``(start, end)`` piece
    (benchmark/test only; ``fix`` writes through ``UnitWriter``).

    The fix work list's gap shapes are arbitrary sub-chunk ranges — possibly
    several inside one chunk — so the piece itself is the group key. ALL
    pieces across every gap land in ONE job (the reference re-archives gap by
    gap, ``fix.rs:39-69``; serial job launches would dominate on a fragmented
    archive). Every piece emits its file even with zero rows.
    """
    base = _join_path(root, blockchain.lower())
    spark = df.sparkSession
    norm = [(p.start, p.end) if isinstance(p, Range) else (int(p[0]), int(p[1])) for p in pieces]
    # a pandas frame reaches the JVM as Arrow, a local table: broadcasting
    # it runs no Python worker pass, and kinds with the same pieces share it
    pieces_df = spark.createDataFrame(
        pd.DataFrame(norm, columns=["p_start", "p_end"]), "p_start long, p_end long"
    )
    key = F.concat_ws("_", F.col("p_start"), F.col("p_end"))
    tagged = (
        df.join(
            F.broadcast(pieces_df),
            (F.col("height") >= F.col("p_start")) & (F.col("height") <= F.col("p_end")),
            "inner",
        )
        .withColumn("_file_group", key)
        .drop("p_start", "p_end")
    )
    sentinels = pieces_df.select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema.fields],
        key.alias("_file_group"),
    )
    grouped = tagged.unionByName(sentinels)
    return grouped.groupBy("_file_group").applyInPandas(
        _write_group_fn(base, kind, blockchain, run, "piece", overwrite, maturity, False, fmt,
                        compression=compression),
        schema=WRITE_RESULT_SCHEMA,
    )


def write_single_files(
    df: DataFrame,
    root: str,
    blockchain: str,
    kind: DataKind,
    run: str = "stream",
    overwrite: bool = False,
    maturity: str | None = None,
    hash_in_name: bool = False,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> DataFrame:
    """Write one file per (height[, blockId]) of ``df``'s rows — stream
    mode's fork-tolerant single-block files (T5: the hash qualifier keeps
    both fork versions). Benchmark/test only:
    ``archive_plan.archive_single_blocks`` writes the same files from its
    fused fetch task; this DataFrame form only feeds the per-layer
    benchmark timings and the object-store tests."""
    base = _join_path(root, blockchain.lower())
    keys = ["height", "blockId"] if hash_in_name else ["height"]
    grouped = df.withColumn("_file_group", F.concat_ws("_", *[F.col(k) for k in keys]))
    return grouped.groupBy("_file_group").applyInPandas(
        _write_group_fn(base, kind, blockchain, run, None, overwrite, maturity, hash_in_name, fmt,
                        compression=compression),
        schema=WRITE_RESULT_SCHEMA,
    )


def write_results_df(spark, rows: list) -> DataFrame:
    """Collected write-result rows as a DataFrame. Built from a pandas
    frame, it reaches the JVM as an Arrow local table with no Python
    worker pass."""
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=WRITE_RESULT_SCHEMA.names)
    return spark.createDataFrame(pdf, WRITE_RESULT_SCHEMA)


def notifications_df(write_results: DataFrame) -> DataFrame:
    """Notification rows for files actually written (skips excluded)."""
    return write_results.filter(~F.col("skipped")).drop("skipped", "n_rows")


def write_notifications(write_results: DataFrame, root: str, run_ts: str) -> str:
    """S15: JSONL notification sink — one line per archived file."""
    out_dir = os.path.join(root, "notifications", f"dshackle-archive-{run_ts}")
    notifications_df(write_results).coalesce(1).write.mode("append").json(out_dir)
    return out_dir

