"""Differential test of ``verify``'s content phase: on randomly damaged
Avro and parquet archives, the verdicts of the pandas kernel
(``core.content.island_stats``, run by ``verify`` in one Spark job) equal
those of the fused Spark SQL query it replaced (``content_oracle``)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from content_oracle import content_failures
from dshackle_archive_spark.core import DataKind, Range, parse_filename
from dshackle_archive_spark.core.content import TX_PAYLOADS
from dshackle_archive_spark.plans.archive_plan import archive
from dshackle_archive_spark.plans.verify_plan import _triage, verify
from dshackle_archive_spark.sources.archive import inventory_rows
from dshackle_archive_spark.sources.fetcher import FetchPolicy
from dshackle_archive_spark.sources.mock_chain import MockChain

KINDS = ("blocks", "transactions", "traces")
TABLES = tuple(DataKind(k) for k in KINDS)
LO, HI = 0, 259
# one 100-block group, five 10-block groups (island 100..149), two 50-block
# groups and two 5-block groups (island 250..259); 120..124 and the whole
# group 200..249 list no transactions
LAYOUT = ((Range(0, 99), 100), (Range(100, 149), 10), (Range(150, 249), 100),
          (Range(250, 259), 5))
TXLESS = set(range(120, 125)) | set(range(200, 250))
BAD_PAYLOADS = (None, b"", b"null")


def _chain():
    class TxlessChain(MockChain):  # executors unpickle it by value
        def tx_ids(self, height):
            return [] if height in TXLESS else super().tx_ids(height)

    return TxlessChain(head_height=10_000)


@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory):
    """One undamaged archive per format."""
    chain, out = _chain(), {}
    for fmt in ("avro", "parquet"):
        root = str(tmp_path_factory.mktemp(f"template-{fmt}"))
        for rng, chunk in LAYOUT:
            archive(spark, chain, root, rng, tables=TABLES, chunk=chunk,
                    policy=FetchPolicy(parallel=4), fmt=fmt)
        out[fmt] = root
    return chain, out


def _read(path):
    """A file's rows as a frame, and a writer that puts edited rows back
    with every column nullable."""
    if path.endswith(".avro"):
        from dshackle_archive_spark.sources.avro_io import (
            read_avro_records,
            read_avro_schema,
            write_avro_records,
        )

        schema = read_avro_schema(path)
        for f in schema["fields"]:
            if not isinstance(f["type"], list):
                f["type"] = ["null", f["type"]]

        def write(df):
            write_avro_records(path, schema,
                               df.astype(object).where(df.notna(), None).to_dict("records"))

        return pd.DataFrame(list(read_avro_records(path)),
                            columns=[f["name"] for f in schema["fields"]]), write
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    schema = pa.schema([f.with_nullable(True) for f in table.schema]).remove_metadata()

    def write(df):
        pq.write_table(pa.Table.from_pandas(df, schema, preserve_index=False), path)

    return table.to_pandas(), write


def _file_of(base, kind, h):
    for d, _dirs, files in os.walk(base):
        for name in files:
            info = parse_filename(name)
            if info is not None and info.kind.value == kind and info.range.start <= h <= info.range.end:
                return os.path.join(d, name)
    return None


def _damage(base, donors, what, h, kind, choice):
    """Apply one damage at height ``h``; returns the height whose block
    row it doubled, if any."""
    path = _file_of(base, "blocks" if what in BLOCK_DAMAGE else kind, h)
    if path is None:
        return None
    if what == "remove_file":
        os.remove(path)
        return None
    df, write = _read(path)
    if what == "empty_file":
        write(df.iloc[:0])
        return None
    at = df.index[df["height"] == h]
    if what == "extra_txid":
        row = (df.loc[at[:1]] if len(at) else donors[kind]).copy()
        row["height"], row["txid"] = h, f"TX-EXTRA-{h}"
        write(pd.concat([df, row], ignore_index=True))
        return None
    if not len(at):
        return None
    i = at[0]
    if what == "drop_block" or what == "missing_txid":
        df = df.drop(index=i)
    elif what in ("dup_height", "dup_txid"):
        df = pd.concat([df, df.loc[[i]]], ignore_index=True)
    elif what == "broken_link":
        df.loc[i, "parentId"] = "0" * 64
    elif what == "bad_block_json":
        df.at[i, "json"] = BAD_PAYLOADS[choice]
    elif what == "txless_block":
        doc = json.loads(df.at[i, "json"])
        doc["transactions"] = []
        df.at[i, "json"] = json.dumps(doc).encode()
    elif what == "bad_tx_payload":
        col = TX_PAYLOADS[kind][choice % 2]
        df.at[i, col] = BAD_PAYLOADS[choice]
    write(df)
    return h if what == "dup_height" else None


BLOCK_DAMAGE = ("drop_block", "dup_height", "broken_link", "bad_block_json", "txless_block")
TX_DAMAGE = ("bad_tx_payload", "missing_txid", "extra_txid", "dup_txid")
FILE_DAMAGE = ("remove_file", "empty_file")  # of any kind
DAMAGE = st.lists(
    st.tuples(st.sampled_from(BLOCK_DAMAGE + TX_DAMAGE + FILE_DAMAGE), st.integers(LO, HI),
              st.sampled_from(KINDS), st.integers(0, 2)),
    min_size=1, max_size=3,
)


def _strip_links(failures, islands):
    return [{k: v for k, v in f.items() if k != "broken_links"}
            if (f["start"], f["end"]) in islands else f for f in failures]


@pytest.mark.parametrize("fmt", ["avro", "parquet"])
@settings(max_examples=12, deadline=None)
@given(damage=DAMAGE)
# the two known gaps, whatever the draw: the 50-block island 200..249 with
# its blocks file emptied, and the same island (its blocks list no
# transactions) holding an unlisted txid
@example(damage=[("empty_file", 210, "blocks", 0)])
@example(damage=[("extra_txid", 210, "transactions", 0)])
def test_verify_content_matches_fused_query(spark, templates, tmp_path_factory, fmt, damage):
    """The failure dicts (reasons and counts) of ``verify`` equal the old
    fused query's. ``broken_links`` is compared only on islands without a
    doubled height: the old height window ordered tied rows arbitrarily.
    Both keep the two verdicts they share today: an island whose blocks
    files hold no rows, and the txids of an island whose blocks list none,
    are not judged."""
    chain, roots = templates
    root = str(tmp_path_factory.mktemp("damaged"))
    shutil.rmtree(root)
    shutil.copytree(roots[fmt], root)
    base = os.path.join(root, "eth")
    donors = {k: _read(_file_of(base, k, 0))[0].iloc[:1] for k in TX_PAYLOADS}
    doubled = set()
    for what, h, kind, choice in damage:
        if what in TX_DAMAGE and kind == "blocks":
            kind = "transactions"
        doubled.add(_damage(base, donors, what, h, kind, choice))

    rng = Range(LO, HI)
    tri = _triage(inventory_rows(root, "ETH"), rng, KINDS, chain.block_hash, False)
    expected = tri.failures + content_failures(spark, chain, base, tri.reads)
    rep = verify(spark, chain, root, rng, tables=TABLES, dry_run=True)
    tied = {isl for isl in tri.island_files if any(isl[0] <= h <= isl[1] for h in doubled - {None})}
    assert _strip_links(rep.failures, tied) == _strip_links(expected, tied)
    shutil.rmtree(root)
