"""Archive storage: partitioned Parquet (native) + Avro compatibility edge.

Reference behaviors covered (S1-S5, S11-S14 in SURVEY §2.1):

- file scan     -> ``spark.read`` with the fixed table schema
- listing scan  -> file-inventory DataFrame parsed from paths (local FS walk
                   here; on a cluster the same rows come from an S3 listing or
                   ``input_file_name()`` over a glob read)
- sinks         -> ``df.write`` with Spark's commit protocol supplying the
                   reference's delete-on-drop atomicity (``fs.rs:204-219``)
- delete        -> inventory-driven file removal with dry-run, mirroring
                   ``global.rs:48-51`` dry-run semantics

Scale: the native layout is ``<root>/<chain>/<table>/l1=<N>/l2=<N>/*.parquet``
so a ``height BETWEEN`` predicate plus the derived ``l1``/``l2`` predicates
statically prunes partitions exactly like the reference's two-level directory
walk (``filenames.rs:110-135``). ``with_partition_filter`` injects those
derived predicates at the API layer — no custom Catalyst rule needed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.filenames import LEVEL1, LEVEL2, parse_filename
from ..core.ranges import Range
from ..schemas import INVENTORY_SCHEMA


def avro_available(spark: SparkSession) -> bool:
    """True if the spark-avro datasource is on the classpath."""
    try:
        spark.read.format("avro").schema("x int").load("/nonexistent-avro-probe")
        return True
    except Exception as e:  # AnalysisException: either missing source or missing path
        return "Failed to find data source" not in str(e) and "AVRO" not in str(e).upper()


# -- partition derivation ---------------------------------------------------

def l1_col(height: Column | str = "height") -> Column:
    c = F.col(height) if isinstance(height, str) else height
    return (F.floor(c / LEVEL1) * LEVEL1).cast("long")


def l2_col(height: Column | str = "height") -> Column:
    c = F.col(height) if isinstance(height, str) else height
    return (F.floor(c / LEVEL2) * LEVEL2).cast("long")


def with_partition_cols(df: DataFrame, height: str = "height") -> DataFrame:
    return df.withColumn("l1", l1_col(height)).withColumn("l2", l2_col(height))


def with_partition_filter(df: DataFrame, rng: Range, height: str = "height") -> DataFrame:
    """Height predicate + derived l1/l2 predicates → static partition pruning.

    The l1/l2 predicates are implied by the height predicate but must be
    stated explicitly for Catalyst to prune partitions (the optional custom
    rule in SURVEY §4 — implemented at the API layer instead).
    """
    lo1, hi1 = rng.start // LEVEL1 * LEVEL1, rng.end // LEVEL1 * LEVEL1
    lo2, hi2 = rng.start // LEVEL2 * LEVEL2, rng.end // LEVEL2 * LEVEL2
    out = df.filter((F.col(height) >= rng.start) & (F.col(height) <= rng.end))
    if "l1" in df.columns:
        out = out.filter((F.col("l1") >= lo1) & (F.col("l1") <= hi1))
    if "l2" in df.columns:
        out = out.filter((F.col("l2") >= lo2) & (F.col("l2") <= hi2))
    return out


# -- native partitioned tables ---------------------------------------------

def table_path(root: str, blockchain: str, table: str) -> str:
    return f"{root}/{blockchain.lower()}/{table}"


def write_table(
    df: DataFrame,
    root: str,
    blockchain: str,
    table: str,
    mode: str = "append",
    compression: str = "zstd",
) -> None:
    """Partitioned write of an archive table (blocks/transactions/traces)."""
    (
        with_partition_cols(df)
        .write.mode(mode)
        .option("compression", compression)
        .partitionBy("l1", "l2")
        .parquet(table_path(root, blockchain, table))
    )


def read_table(
    spark: SparkSession,
    root: str,
    blockchain: str,
    table: str,
    rng: Range | None = None,
) -> DataFrame:
    df = spark.read.parquet(table_path(root, blockchain, table))
    return with_partition_filter(df, rng) if rng else df


def register_archive_views(
    spark: SparkSession,
    root: str,
    blockchain: str,
    tables: tuple[str, ...] = ("blocks", "transactions", "traces"),
) -> list[str]:
    """Expose the native archive tables as SQL temp views
    (``<chain>_blocks`` etc.) so the archive is queryable with plain
    ``spark.sql`` — the reference's stated purpose for the archive
    (README.adoc:31: analysable by "traditional Big Data tools")."""
    created = []
    for t in tables:
        path = table_path(root, blockchain, t)
        if os.path.isdir(path):
            name = f"{blockchain.lower()}_{t}"
            spark.read.parquet(path).createOrReplaceTempView(name)
            created.append(name)
    return created


# -- reference-layout archive trees (avro/parquet files per range) ----------

@dataclass(frozen=True)
class DeleteResult:
    deleted: list[str]
    dry_run: bool


def list_archive_files(root: str) -> list[str]:
    """Recursive listing of a reference-layout archive tree (relative paths).

    Local-FS implementation; the inventory this feeds is metadata-scale
    (one row per file). On S3 the same rows come from a prefix listing with
    a start-offset key, which is what the reference does
    (``objects.rs:79-168``) — see ``list_archive_files_hadoop`` for the
    FS-agnostic path.
    """
    out: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for f in files:
            out.append(f if rel == "." else f"{rel}/{f}")
    return sorted(out)


def list_archive_files_hadoop(spark: SparkSession, root: str) -> list[str]:
    """Recursive listing through the Hadoop FileSystem API — works against
    any HDFS-compatible store (s3a://, gs://, hdfs://, file:/), which is how
    a cluster deployment lists a 10^8-file archive without local FS access.

    S2 parity: the reference's offset-keyed S3 listing maps to the store's
    own ordered prefix iteration here; range filtering happens on the parsed
    inventory (P2), which Spark distributes.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    base = fs.makeQualified(path).toString().rstrip("/") + "/"
    it = fs.listFiles(path, True)
    out: list[str] = []
    while it.hasNext():
        status = it.next()
        full = status.getPath().toString()
        if full.startswith(base):
            out.append(full[len(base):])
    return sorted(out)


def inventory_df_hadoop(spark: SparkSession, root: str, blockchain: str | None = None) -> DataFrame:
    """Inventory via the Hadoop listing + the SQL regex codec — fully
    JVM-side parse (S4's ``SINGLE_SQL_RE``/``RANGE_SQL_RE``), so a huge
    listing parses distributed instead of on the driver."""
    from ..core.filenames import RANGE_SQL_RE, SINGLE_SQL_RE

    base = f"{root}/{blockchain.lower()}" if blockchain else root
    paths = list_archive_files_hadoop(spark, base)
    if not paths:
        return spark.createDataFrame([], INVENTORY_SCHEMA)
    pdf = spark.createDataFrame([(p,) for p in paths], "path string")
    single = pdf.filter(F.col("path").rlike(SINGLE_SQL_RE)).select(
        "path",
        F.regexp_extract("path", SINGLE_SQL_RE, 3).alias("_ext"),
        F.regexp_extract("path", SINGLE_SQL_RE, 1).cast("long").alias("start"),
        F.regexp_extract("path", SINGLE_SQL_RE, 1).cast("long").alias("end"),
        F.nullif(F.regexp_extract("path", SINGLE_SQL_RE, 2), F.lit("")).alias("hash"),
    )
    rng = pdf.filter(
        ~F.col("path").rlike(SINGLE_SQL_RE) & F.col("path").rlike(RANGE_SQL_RE)
    ).select(
        "path",
        F.regexp_extract("path", RANGE_SQL_RE, 3).alias("_ext"),
        F.regexp_extract("path", RANGE_SQL_RE, 1).cast("long").alias("start"),
        F.regexp_extract("path", RANGE_SQL_RE, 2).cast("long").alias("end"),
        F.lit(None).cast("string").alias("hash"),
    )
    kind = (
        F.when(F.col("_ext").isin("block", "blocks"), "blocks")
        .when(F.col("_ext") == "txes", "transactions")
        .otherwise("traces")
    )
    return (
        single.unionByName(rng)
        .withColumn("kind", kind)
        .select("path", "kind", "start", "end", "hash")
    )


def list_archive_files_pyarrow(root: str) -> list[str]:
    """Recursive listing of a URI-rooted archive (``s3://…``, ``gs://…``)
    through pyarrow's FileSystem — the same seam ``ref_layout`` writes
    through, so an object-store archive lists without Hadoop connector
    jars. URI query params (``endpoint_override``, ``scheme``…) ride along,
    which is how the S3 round-trip test points this at a local endpoint.

    S2 parity: one ordered prefix listing (``objects.rs:79-168``);
    directory markers are dropped (FileType.File only)."""
    import pyarrow.fs as pafs

    fs, base = pafs.FileSystem.from_uri(root)
    base = base.rstrip("/")
    try:
        infos = fs.get_file_info(pafs.FileSelector(base, recursive=True))
    except FileNotFoundError:
        return []
    out = [
        i.path[len(base) + 1 :]
        for i in infos
        if i.type == pafs.FileType.File and i.path.startswith(base + "/")
    ]
    return sorted(out)


def inventory_rows(root: str, blockchain: str | None = None) -> list[tuple]:
    """File inventory as plain rows: ``(path, kind, start, end, hash)`` parsed
    from the listed paths, one per archive file.

    Non-matching (foreign) files are skipped, as in ``filenames.rs:29-49``.
    URI roots (``s3://…``) list through pyarrow; posix roots walk locally.
    The rows are metadata-scale (one per ≤1000-block file), so verify and
    fix run their interval algebra on them directly on the driver.
    """
    if "://" in root:
        # a URI query string (endpoint_override etc.) stays after the path
        r, sep, q = root.partition("?")
        base = f"{r.rstrip('/')}/{blockchain.lower()}{sep}{q}" if blockchain else root
        listed = list_archive_files_pyarrow(base)
    else:
        base = os.path.join(root, blockchain.lower()) if blockchain else root
        listed = list_archive_files(base) if os.path.isdir(base) else []
    rows = []
    for rel in listed:
        fi = parse_filename(rel)
        if fi is not None:
            rows.append((rel, fi.kind.value, fi.range.start, fi.range.end, fi.hash))
    return rows


def inventory_df(spark: SparkSession, root: str, blockchain: str | None = None) -> DataFrame:
    """File-inventory DataFrame over ``inventory_rows``."""
    return spark.createDataFrame(inventory_rows(root, blockchain), INVENTORY_SCHEMA)


def delete_files(root: str, rel_paths: list[str], dry_run: bool = False) -> DeleteResult:
    """Inventory-driven delete honoring dry-run (reference ``global.rs:48-51``)."""
    deleted = []
    for rel in rel_paths:
        p = os.path.join(root, rel)
        if os.path.exists(p):
            if not dry_run:
                os.remove(p)
            deleted.append(rel)
    return DeleteResult(deleted, dry_run)
