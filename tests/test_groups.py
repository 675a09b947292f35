"""Driver metadata kernel (``core.groups``): unit cases, and property parity
with its DataFrame twins in ``operators.inventory`` on random inventories
with duplicates, fork twins, overlaps and partial groups."""

from hypothesis import given, settings
from hypothesis import strategies as st

from dshackle_archive_spark.core import Range
from dshackle_archive_spark.core import groups as G
from dshackle_archive_spark.operators import inventory as INV
from dshackle_archive_spark.schemas import INVENTORY_SCHEMA

KINDS = ("blocks", "transactions", "traces")
HASHES = ("", "a" * 64, "b" * 64)


def test_group_files_keys_by_range_and_hash():
    rows = [
        ("b2", "blocks", 5, 5, "a" * 64),
        ("t", "transactions", 5, 5, None),
        ("b1", "blocks", 5, 5, "a" * 64),
        ("r", "blocks", 0, 9, ""),
    ]
    assert G.group_files(rows) == {
        (0, 9, ""): {"blocks": ["r"]},
        (5, 5, ""): {"transactions": ["t"]},
        (5, 5, "a" * 64): {"blocks": ["b1", "b2"]},
    }


def test_largest_covering_ties_and_adjacency():
    keys = [(0, 9, ""), (5, 14, ""), (15, 15, "b"), (15, 15, "a"), (20, 20, "")]
    # [0,9] and [5,14] tie on width → lower start; the 15 twins tie on
    # everything but the hash → lower hash; touching ranges are no rivals
    assert G.largest_covering(keys) == {(0, 9, ""), (15, 15, "a"), (20, 20, "")}


def test_small_islands_merge_touching_small_ranges_only():
    got = G.small_islands([(0, 9), (10, 19), (20, 119), (120, 125), (130, 130)], threshold=10)
    assert got == [
        (Range(0, 19), [(0, 9), (10, 19)]),
        (Range(20, 119), [(20, 119)]),
        (Range(120, 125), [(120, 125)]),
        (Range(130, 130), [(130, 130)]),
    ]


def test_missing_ranges_per_kind():
    rows = [("a", "blocks", 0, 49, None), ("b", "blocks", 60, 99, None),
            ("c", "transactions", 0, 99, None)]
    assert G.missing_ranges(rows, 0, 99, ("blocks", "transactions", "traces")) == [
        ("blocks", 50, 59),
        ("traces", 0, 99),
    ]


@st.composite
def inventories(draw):
    rows = []
    for i in range(draw(st.integers(1, 16))):
        kind = draw(st.sampled_from(KINDS))
        start = draw(st.integers(0, 40))
        if draw(st.booleans()):  # single-block file
            end, h = start, draw(st.sampled_from(HASHES))
            if draw(st.booleans()):  # a fork twin, or a file of another kind
                twin_kind, twin_hash = draw(st.sampled_from(KINDS)), draw(st.sampled_from(HASHES))
                rows.append((f"f{i:02d}.twin", twin_kind, start, end, twin_hash))
        else:
            end, h = start + draw(st.integers(1, 25)), ""
        rows.append((f"f{i:02d}", kind, start, end, h))
        if draw(st.integers(0, 4)) == 0:  # a duplicate of the same kind
            rows.append((f"f{i:02d}.dup", kind, start, end, h))
    return rows


@given(
    rows=inventories(),
    kinds=st.sampled_from([("blocks", "transactions"), KINDS]),
    lo=st.integers(0, 40),
    span=st.integers(0, 60),
)
@settings(max_examples=20, deadline=None)
def test_kernel_matches_dataframe_operators(spark, rows, kinds, lo, span):
    inv = spark.createDataFrame(rows, INVENTORY_SCHEMA)
    groups = G.group_files(rows)

    groups_df = INV.group_ranges(inv, kinds=kinds).cache()
    want = {
        (r["start"], r["end"], r["hash"]): {k: (r[f"n_{k}"], r[f"path_{k}"]) for k in kinds}
        for r in groups_df.collect()
    }
    got = {
        key: {k: (len(files.get(k, ())), min(files.get(k, [None]))) for k in kinds}
        for key, files in groups.items()
    }
    assert got == want

    keep = {
        (r["start"], r["end"], r["hash"]): r["keep"]
        for r in INV.dedup_largest_covering(groups_df).collect()
    }
    kept = G.largest_covering(groups)
    assert {key: key in kept for key in groups} == keep

    islands = INV.merge_small_ranges(groups_df.select("start", "end").distinct(), threshold=10)
    want_islands = sorted(
        (r["island_start"], r["island_end"], [(m["start"], m["end"]) for m in r["members"]])
        for r in islands.collect()
    )
    got_islands = [
        (isl.start, isl.end, members)
        for isl, members in G.small_islands(((s, e) for s, e, _h in groups), threshold=10)
    ]
    assert got_islands == want_islands
    groups_df.unpersist()

    hi = lo + span
    want_gaps = sorted(
        (r["kind"], r["start"], r["end"])
        for r in INV.find_incomplete_tables(inv, lo, hi, kinds=kinds).collect()
    )
    assert sorted(G.missing_ranges(rows, lo, hi, kinds)) == want_gaps
