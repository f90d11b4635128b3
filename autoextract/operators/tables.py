"""Table-structure reconstruction from word boxes (SURVEY.md §2 P-family).

The north star emits tables as opaque ``media_ref`` placeholders in the
span stream; this operator recovers the CONTENT of a detected table region
— the (row, col, text) grid — from the same OCR word boxes the layout
stage consumes.  The reference has no equivalent (its LLM reads the page
image); the published classical approach is projection clustering:

  * rows: greedy y-center sweep with a vertical-overlap test (the same
    rule ``layout.page_reading_order``'s line sweep uses — a word joins the current row iff
    it overlaps the row band by ≥ half the smaller height),
  * columns: merge the x-extents of ALL words in the table into maximal
    intervals; a horizontal whitespace gutter wider than
    ``col_gap_factor × median word height`` separates columns (the
    vertical analogue of XY-cut's column rule, applied table-wide so
    ragged rows still share the global column grid),
  * cells: words in the same (row, column) join left-to-right.

Scale shape: one ``applyInPandas`` per (doc_id, page, table_id) group —
a table is bounded (10²–10⁴ words), so per-group NumPy is the right
granularity; tables across the corpus parallelize on the group key.  The
grouping shuffle is the only exchange.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

CELLS_SCHEMA = (
    "doc_id string, page int, table_id int, row int, col int, text string"
)

ROW_OVERLAP = 0.5  # same row iff vertical overlap ≥ 0.5 * min(heights)


def _cluster_rows(y0: np.ndarray, y1: np.ndarray) -> np.ndarray:
    """Row ids (0..k-1 top-to-bottom) via the greedy band sweep."""
    n = len(y0)
    yc = (y0 + y1) / 2.0
    order = np.argsort(yc, kind="stable")
    ids = np.zeros(n, dtype=np.int64)
    cur = 0
    band_lo, band_hi = y0[order[0]], y1[order[0]]
    for j in order[1:]:
        overlap = min(band_hi, y1[j]) - max(band_lo, y0[j])
        min_h = max(min(band_hi - band_lo, y1[j] - y0[j]), 1e-9)
        if overlap >= ROW_OVERLAP * min_h:
            band_lo, band_hi = min(band_lo, y0[j]), max(band_hi, y1[j])
        else:
            cur += 1
            band_lo, band_hi = y0[j], y1[j]
        ids[j] = cur
    return ids


def _cluster_cols(x0: np.ndarray, x1: np.ndarray, gap: float) -> np.ndarray:
    """Column ids from table-wide x-interval merging: a gutter ≥ ``gap``
    starts a new column; everything else coalesces."""
    n = len(x0)
    order = np.argsort(x0, kind="stable")
    ids = np.zeros(n, dtype=np.int64)
    cur = 0
    hi = x1[order[0]]
    for j in order[1:]:
        if x0[j] - hi >= gap:
            cur += 1
            hi = x1[j]
        else:
            hi = max(hi, x1[j])
        ids[j] = cur
    return ids


def _table_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    if len(pdf) == 0:
        return pd.DataFrame(
            columns=["doc_id", "page", "table_id", "row", "col", "text"]
        )
    x0 = pdf["x0"].to_numpy(dtype=np.float64)
    x1 = pdf["x1"].to_numpy(dtype=np.float64)
    y0 = pdf["y0"].to_numpy(dtype=np.float64)
    y1 = pdf["y1"].to_numpy(dtype=np.float64)
    med_h = max(float(np.median(y1 - y0)), 1e-9)
    rows = _cluster_rows(y0, y1)
    cols = _cluster_cols(x0, x1, gap=float(pdf["__gap"].iloc[0]) * med_h)
    # cell assembly: sort by (row, col, x0, word_seq) and join words
    seqs = pdf["word_seq"].to_numpy()
    key = np.lexsort((seqs, x0, cols, rows))
    contents = pdf["content"].to_numpy()[key]
    r_s, c_s = rows[key], cols[key]
    boundary = np.flatnonzero((r_s[1:] != r_s[:-1]) | (c_s[1:] != c_s[:-1])) + 1
    starts = np.concatenate(([0], boundary))
    ends = np.concatenate((boundary, [len(key)]))
    out = {
        "doc_id": pdf["doc_id"].iloc[0],
        "page": np.int32(pdf["page"].iloc[0]),
        "table_id": np.int32(pdf["table_id"].iloc[0]),
    }
    return pd.DataFrame(
        {
            **out,
            "row": [int(r_s[s]) for s in starts],
            "col": [int(c_s[s]) for s in starts],
            "text": [" ".join(contents[s:e]) for s, e in zip(starts, ends)],
        }
    )


def reconstruct_tables(
    table_words: DataFrame, *, col_gap_factor: float = 1.0
) -> DataFrame:
    """``table_words(doc_id, page, table_id, word_seq, content, x0, y0,
    x1, y1)`` → one output row per non-empty cell: ``(doc_id, page,
    table_id, row, col, text)``.

    ``col_gap_factor`` scales the column-gutter threshold in units of the
    table's median word height (1.0 ≈ one character height of whitespace —
    wider than any intra-cell word spacing, narrower than a real gutter).
    Deterministic: stable sorts everywhere, ties broken by ``word_seq``.
    """
    from pyspark.sql import functions as F

    tagged = table_words.withColumn("__gap", F.lit(float(col_gap_factor)))
    return tagged.groupBy("doc_id", "page", "table_id").applyInPandas(
        _table_kernel, schema=CELLS_SCHEMA
    )
