"""Output checks against the generator-side oracles (see ``perfbench.inputs``).

Every check returns the set of document ids whose output is missing, extra or
different. Reading the written parquet with pyarrow keeps the checks out of the
engine under test: no Spark plan is involved in deciding what is correct.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def read_table(out_dir: str, table: str) -> pa.Table:
    return pq.read_table(os.path.join(out_dir, table))


def _duplicated(ids: pa.Array) -> set[str]:
    s = pd.Series(ids.to_pylist())
    return set(s[s.duplicated()])


def _positions(spans: pa.ListArray, parent: np.ndarray) -> np.ndarray:
    """Index of each flattened value within its own list."""
    offsets = spans.offsets.to_numpy()
    return np.arange(offsets[0], offsets[0] + len(parent)) - offsets[parent]


def flat_spans(spans_tbl: pa.Table) -> pd.DataFrame:
    """``(doc_id, spans: list<struct>)`` → one row per span with its position
    in the document's list."""
    spans = spans_tbl.column("spans").combine_chunks()
    parent = pc.list_parent_indices(spans).to_numpy()
    values = spans.flatten()
    df = pd.DataFrame(
        {
            "doc_id": spans_tbl.column("doc_id").take(pa.array(parent)).to_numpy(zero_copy_only=False),
            "pos": _positions(spans, parent),
        }
    )
    for f in _SPAN_FIELDS:
        df[f] = values.field(f).to_numpy(zero_copy_only=False)
    return df


def span_failures(spans_tbl: pa.Table, expected: pa.Table) -> set[str]:
    """Documents whose span sequence (kind, text, media_ref, offset, in list
    order) differs from ``expected`` (flat rows, sorted by doc and offset). A
    document with no expected rows must have no output row."""
    got = flat_spans(spans_tbl)
    exp = expected.to_pandas()
    exp["pos"] = exp.groupby("doc_id").cumcount()
    m = got.merge(exp, on=["doc_id", "pos"], how="outer", suffixes=("_g", "_e"), indicator=True)
    bad = m["_merge"] != "both"
    for f in _SPAN_FIELDS:
        g, e = m[f + "_g"], m[f + "_e"]
        bad |= ~((g == e) | (g.isna() & e.isna()))
    failed = set(m.loc[bad, "doc_id"])
    # an output document with an empty span list has no flat rows
    out_ids = spans_tbl.column("doc_id").combine_chunks()
    empty = pc.equal(pc.list_value_length(spans_tbl.column("spans")), 0)
    failed |= set(pc.filter(out_ids, pc.fill_null(empty, True)).to_pylist())
    return failed | _duplicated(out_ids)


def extracted_failures(got: pa.Table, expected: pa.Table) -> set[str]:
    """Exact equality of the filled fields with ``corpus.expected_extracted``'s
    rows (``tests/test_extract_scale.py``); unfilled fields must carry no word
    ids and zero confidence."""

    def keyed(df: pd.DataFrame) -> pd.Series:
        key = (
            df["field_path"] + "\x1f" + df["value"] + "\x1f"
            + df["word_ids"].map(lambda w: ",".join(map(str, w)))
            + "\x1f" + df["confidence"].map(repr)
        )
        return key.groupby(df["doc_id"]).agg(lambda k: tuple(sorted(k)))

    g = got.select(["doc_id", "field_path", "value", "word_ids", "confidence"]).to_pandas()
    empty = g["value"] == ""
    failed = set(
        g.loc[empty & ((g["word_ids"].map(len) != 0) | (g["confidence"] != 0.0)), "doc_id"]
    )
    gk, ek = keyed(g[~empty]), keyed(expected.to_pandas())
    both = pd.concat([gk.rename("g"), ek.rename("e")], axis=1)
    return failed | set(both.index[both["g"] != both["e"]])


def grid_failures(spans_tbl: pa.Table, oracle_text: pa.Table) -> set[str]:
    """Grid documents: all spans are text with dense offsets, and the text
    rebuilt from the spans equals the whitespace-normalised source (the check
    ``__spark_entry__.entry`` makes)."""
    spans = spans_tbl.column("spans").combine_chunks()
    values = spans.flatten()
    parent = pc.list_parent_indices(spans).to_numpy()
    pos = _positions(spans, parent)
    bad_rows = (
        np.invert(pc.fill_null(pc.equal(values.field("kind"), "text"), False).to_numpy(zero_copy_only=False))
        | values.field("media_ref").is_valid().to_numpy(zero_copy_only=False)
        | (values.field("offset").to_numpy(zero_copy_only=False) != pos)
    )
    ids = spans_tbl.column("doc_id").combine_chunks()
    failed = set(ids.take(pa.array(np.unique(parent[bad_rows]))).to_pylist())
    rebuilt = pc.binary_join(pa.ListArray.from_arrays(spans.offsets, spans.values.field("text")), " ")
    got = pd.Series(rebuilt.to_numpy(zero_copy_only=False), index=ids.to_numpy(zero_copy_only=False))
    src = oracle_text.to_pandas()
    want = pd.Series([" ".join(t.split()) for t in src["text"]], index=src["doc_id"])
    dup = _duplicated(ids)
    both = pd.concat([got[~got.index.duplicated()].rename("g"), want.rename("e")], axis=1)
    return failed | dup | set(both.index[both["g"] != both["e"]])
