"""The content rules of ``verify`` and ``compact`` over one island's rows
(reference ``verify.rs:409-477`` and ``compact.rs:221-243``).

``island_stats`` is plain Python over pandas frames, one per kind: it
counts what each rule sees and leaves the verdicts to its callers.
``verify`` runs it once per island inside one Spark task and judges the
counts on the driver; ``compact`` runs it on each chunk before writing it.
"""

from __future__ import annotations

import json
from collections import Counter

# payload columns whose null/empty/"null" values fail a txid kind (P5)
TX_PAYLOADS = {"transactions": ("json", "raw"), "traces": ("traceJson", "stateDiffJson")}
TX_COUNTS = ("missing", "unexpected", "dup", "bad_payload")


def _invalid(v) -> bool:
    """P5: a null, empty or ``"null"`` payload (pandas reads a null as None
    or, in an all-null float column, NaN)."""
    return v is None or isinstance(v, float) or len(v) == 0 or v in (b"null", "null")


def _listed(raw, tx_field: str) -> tuple[list[str], bool]:
    """The txids a block's JSON lists, and whether that JSON is well formed:
    an object whose tx list, when present, holds only strings. A null item
    lists nothing and any other non-string item lists its JSON text, as a
    JSON reader typed ``array<string>`` reads them."""
    try:
        doc = json.loads(raw)
    except (TypeError, ValueError):
        return [], False
    if not isinstance(doc, dict):
        return [], False
    listed = doc.get(tx_field) or []
    if not isinstance(listed, list):
        return [], False
    txids = [t if isinstance(t, str) else json.dumps(t, separators=(",", ":"))
             for t in listed if t is not None]
    return txids, all(isinstance(t, str) for t in listed)


def island_stats(frames: dict, tx_field: str | None) -> dict:
    """Every content count of one island (kind name -> pandas frame).

    Blocks: ``n_rows``, distinct ``n_heights`` (A5/A6), ``broken_links``
    between height-ordered rows (W1), ``bad_json`` (P5), ``top_id``, the
    largest block hash at the top height, for the head-hash check (J5), and
    ``h_min``/``h_max``. With ``tx_field`` (the block JSON's tx-list key):
    ``n_expected`` txids listed, ``bad_tx_list`` when a block JSON is not an
    object or lists a non-string, and per txid kind present (J1/J2)
    ``{kind}_missing``/``_unexpected``/``_dup``/``_bad_payload`` plus
    ``{kind}_same``, whether listed and copied txids are equal multisets."""
    blocks = frames.get("blocks")
    out: dict = {"n_rows": 0, "n_heights": 0, "broken_links": 0, "bad_json": 0,
                 "top_id": None, "h_min": None, "h_max": None,
                 "n_expected": 0, "bad_tx_list": False}
    expected: Counter = Counter()
    if blocks is not None and len(blocks):
        h = blocks["height"]
        ordered = blocks.sort_values("height", kind="stable", na_position="first")
        ids, parents = ordered["blockId"].tolist(), ordered["parentId"].tolist()
        top_height = h.max()
        top_ids = blocks.loc[h == top_height, "blockId"].dropna()
        out.update(
            n_rows=len(blocks),
            n_heights=int(h.nunique()),
            broken_links=sum(1 for prev, parent in zip(ids, parents[1:])
                             if prev is not None and parent is not None and parent != prev),
            bad_json=sum(map(_invalid, blocks["json"])),
            top_id=max(top_ids) if len(top_ids) else None,
            h_min=int(h.min()), h_max=int(top_height),
        )
        if tx_field is not None:
            for raw in blocks["json"]:
                txids, ok = _listed(raw, tx_field)
                expected.update(txids)
                out["bad_tx_list"] |= not ok
            out["n_expected"] = sum(expected.values())
    for kind, payload in TX_PAYLOADS.items():
        rows = frames.get(kind)
        if rows is None:
            continue
        got = Counter(rows["txid"].tolist())
        bad = [any(map(_invalid, vs)) for vs in zip(*(rows[c] for c in payload))]
        out.update({
            f"{kind}_missing": sum(n for t, n in expected.items() if t not in got),
            f"{kind}_unexpected": sum(n for t, n in got.items() if t not in expected),
            f"{kind}_dup": sum(1 for n in got.values() if n > 1),
            f"{kind}_bad_payload": sum(bad),
            f"{kind}_same": got == expected,
        })
    return out
