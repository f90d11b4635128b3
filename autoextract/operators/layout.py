"""Layout engine: word boxes → deterministic reading order → spans.

The reference never computes reading order — it trusts PaddleOCR's emission
order (``lambda/api/app/ocr.py:53-68`` preserves it; SURVEY.md §2.4 W3). For a
batch engine the order must be explicit and deterministic, or two runs at
different parallelism could serialize spans differently. This module
implements the classic recipe the north_star prescribes:

  1. axis-aligned boxes from the 4-point quads the OCR shape carries
     (``ocr-containers/paddle-ocr/inference.py:109-115``), folded JVM-side
     in ``_clean`` by min/max corner, same as the UI's ``getBoundingBox``
     at ``web/src/pages/OCRResult.tsx:95-108``
  2. recursive XY-cut block segmentation (Nagy-style projection-profile
     splitting on whitespace valleys) — SURVEY.md §2 P5
  3. line clustering inside each block by vertical-overlap ≥ 0.5 of the
     smaller box — SURVEY.md §2 P4
  4. emission: blocks in cut order, lines top-to-bottom, words left-to-right;
     ties broken by the producer's ``word_seq`` so the order is total and
     deterministic.

The page algorithm (``page_reading_order``) is plain Python, one path for
every page size. The Spark path is ONE ``repartition(doc_id)`` +
``sortWithinPartitions`` exchange, then a single ``mapInArrow`` pass whose
partitions hold complete documents: one shared page loop orders every page
and assigns global offsets (SURVEY.md §2 W1) in-pass — no window, no second
shuffle. Pages are independent reading units (the reference also processes
per page, ``ocr.py:157-175``); ``order_words_paged`` is the page-parallel
route for unbounded single documents (skew policy, SURVEY.md §4 item 1).
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Gap thresholds, in units of the page's median box height (the only robust
# scale available without page dimensions). Deterministic constants — never
# data-dependent randomness.
Y_GAP_FACTOR = 0.7  # horizontal cut: whitespace band taller than this
X_GAP_FACTOR = 2.0  # vertical cut: column gutter wider than this
X_MIN_EXTENT = 2.0  # only x-cut regions taller than this many median heights
LINE_OVERLAP = 0.5  # same line iff vertical overlap ≥ 0.5 * min(heights)


# ----------------------------------------------------------------------
# page algorithm (pure Python, unit-testable without Spark)
# ----------------------------------------------------------------------
def page_reading_order(
    boxes: np.ndarray, tiebreak: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full per-page ordering of ``(n, 4)`` ``[x0, y0, x1, y1]`` boxes.

    Returns (perm, block_id, line_id) where ``perm`` lists word indices in
    reading order, and block/line ids are aligned with the *input* order.
    ``perm`` is a permutation of ``range(n)`` for any float input, NaN and
    ±inf included.

    Plain Python floats throughout: ``.tolist()`` gives the same IEEE
    doubles, and pages of tens to hundreds of words would otherwise pay
    ~100 µs of per-tiny-array NumPy dispatch. Cut assignment is a bisection,
    so pages of 10^5 words stay near-linear.
    """
    n = len(boxes)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    x0, y0, x1, y1 = np.asarray(boxes).T.tolist()
    tb = list(range(n)) if tiebreak is None else np.asarray(tiebreak).tolist()
    heights = sorted(y1[i] - y0[i] for i in range(n))
    mid = n // 2
    med_h = heights[mid] if n % 2 else (heights[mid - 1] + heights[mid]) / 2.0
    med_h = max(med_h, 1e-9)
    y_gap = Y_GAP_FACTOR * med_h
    x_gap = X_GAP_FACTOR * med_h
    min_x_extent = X_MIN_EXTENT * med_h

    def gaps_of(idx, lo, hi, min_gap):
        """Midpoints of whitespace gaps ≥ min_gap in the 1-D projection of
        the [lo, hi] intervals, ascending (stable sort: deterministic)."""
        order = sorted(idx, key=lo.__getitem__)
        out = []
        cover_end = hi[order[0]]
        for j in order[1:]:
            lj = lo[j]
            if lj - cover_end >= min_gap:
                out.append((lj + cover_end) / 2.0)
            hj = hi[j]
            if hj > cover_end:
                cover_end = hj
        return out

    def rec(idx):
        """Recursive XY-cut → index groups (blocks) in reading order.

        Horizontal cuts are tried first at every level, so a spanning header
        splits off before the column cut beneath it. A region is only a
        column-split candidate if it is taller than ``min_x_extent``, so a
        single text line is never cut at its inter-word gaps."""
        if len(idx) <= 1:
            return [idx]
        cuts = gaps_of(idx, y0, y1, y_gap)
        lo, hi = y0, y1
        if not cuts and (
            max(map(y1.__getitem__, idx)) - min(map(y0.__getitem__, idx))
        ) > min_x_extent:
            cuts = gaps_of(idx, x0, x1, x_gap)
            lo, hi = x0, x1
        if not cuts:
            return [idx]
        segs = [[] for _ in range(len(cuts) + 1)]
        for j in idx:
            # segment k holds centers in [cuts[k-1], cuts[k]); a center no
            # cut lies above (+inf, NaN) goes to the last segment
            segs[bisect_right(cuts, (lo[j] + hi[j]) / 2.0)].append(j)
        segs = [s for s in segs if s]
        if len(segs) == 1:
            # no cut separated the words (only non-finite or inverted boxes
            # get here): the region is a leaf, not an endless recursion
            return [idx]
        out = []
        for sub in segs:
            out.extend(rec(sub))
        return out

    block_id = [0] * n
    line_id = [0] * n
    perm: list = []
    for b_i, idx in enumerate(rec(list(range(n)))):
        m = len(idx)
        # greedy line sweep over the block's boxes by y-center: a box joins
        # the current line iff its vertical overlap with the line's running
        # band is ≥ LINE_OVERLAP of the smaller height
        yc = [(y0[j] + y1[j]) / 2.0 for j in idx]
        order = sorted(range(m), key=yc.__getitem__)
        lines = [0] * m
        cur = 0
        j0 = idx[order[0]]
        band_y0, band_y1 = y0[j0], y1[j0]
        for k in order[1:]:
            j = idx[k]
            by0 = y0[j]
            by1 = y1[j]
            # conditional expressions, not min()/max() builtins: the sweep
            # runs 3-4 of them per word and the call overhead dominates
            overlap = (band_y1 if band_y1 < by1 else by1) - (
                band_y0 if band_y0 > by0 else by0
            )
            bh = band_y1 - band_y0
            h = by1 - by0
            min_h = bh if bh < h else h
            if min_h < 1e-9:
                min_h = 1e-9
            if overlap >= LINE_OVERLAP * min_h:
                if by0 < band_y0:
                    band_y0 = by0
                if by1 > band_y1:
                    band_y1 = by1
            else:
                cur += 1
                band_y0, band_y1 = by0, by1
            lines[k] = cur
        for b_j, ln in zip(idx, lines):
            block_id[b_j] = b_i
            line_id[b_j] = ln
        # order within block: (line, x0, tiebreak), then the within-block
        # position k — total and deterministic
        keyed = sorted(
            zip(lines, (x0[j] for j in idx), (tb[j] for j in idx), range(m))
        )
        perm.extend(idx[t[3]] for t in keyed)
    return (
        np.array(perm, dtype=np.int64),
        np.array(block_id, dtype=np.int64),
        np.array(line_id, dtype=np.int64),
    )


# ----------------------------------------------------------------------
# Spark stage
# ----------------------------------------------------------------------
#: output schema of the per-page layout stage
LAYOUT_SCHEMA = (
    "doc_id string, page int, seq int, kind string, content string, "
    "media_ref string, rec_score double, x0 double, y0 double, "
    "x1 double, y1 double, block_id int, line_id int"
)

#: output schema of the partition-batched fast path (word_id = global offset)
ORDERED_SCHEMA = (
    "doc_id string, page int, seq int, kind string, content string, "
    "media_ref string, rec_score double, x0 double, y0 double, "
    "x1 double, y1 double, block_id int, line_id int, word_id int"
)

#: canonical output of the fused direct path
SPANS_TABLE_SCHEMA = (
    "doc_id string, spans array<struct<kind:string, text:string, "
    "media_ref:string, offset:int>>"
)


def _layout_one_page_flat(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: one (doc_id, page) group (flat-box input from
    ``_clean``) → reading-ordered rows."""
    n = len(pdf)
    boxes = np.stack(
        [pdf["x0"].to_numpy(), pdf["y0"].to_numpy(), pdf["x1"].to_numpy(), pdf["y1"].to_numpy()],
        axis=1,
    ) if n else np.zeros((0, 4))
    perm, block_id, line_id = page_reading_order(
        boxes, tiebreak=pdf["word_seq"].to_numpy()
    )
    out = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy()[perm],
            "page": pdf["page"].to_numpy()[perm].astype("int32"),
            "seq": np.arange(n, dtype="int32"),
            "kind": pdf["kind"].to_numpy()[perm],
            "content": pdf["content"].to_numpy()[perm],
            "media_ref": pdf["media_ref"].to_numpy()[perm],
            "rec_score": pdf["rec_score"].to_numpy()[perm],
            "x0": boxes[perm, 0],
            "y0": boxes[perm, 1],
            "x1": boxes[perm, 2],
            "y1": boxes[perm, 3],
            "block_id": block_id[perm].astype("int32"),
            "line_id": line_id[perm].astype("int32"),
        }
    )
    return out


def _clean(ocr_words: DataFrame) -> DataFrame:
    """Drop empty/whitespace-only text words — the reference's producer-side
    rule (``inference.py:108`` ``if text.strip()``), as a JVM-side filter so
    the UDFs never see them. Boxes are folded from the corner quads here too
    (pure expressions: Catalyst keeps the whole prologue codegen'd, and the
    Python stage receives flat doubles instead of nested arrays — nested
    Arrow lists are ~10× costlier to hand across)."""
    has_kind = "kind" in ocr_words.columns
    cond = (
        (F.col("kind") != F.lit("text")) | (F.length(F.trim(F.col("content"))) > 0)
        if has_kind
        else F.length(F.trim(F.col("content"))) > 0
    )
    if "points" in ocr_words.columns:
        xs = F.transform("points", lambda p: p[0])
        ys = F.transform("points", lambda p: p[1])
        box_cols = [
            F.array_min(xs).alias("x0"),
            F.array_min(ys).alias("y0"),
            F.array_max(xs).alias("x1"),
            F.array_max(ys).alias("y1"),
        ]
    else:
        # producer already ships flat boxes (the columnar-friendly shape a
        # petabyte words table would use) — pass through
        box_cols = [F.col(c).cast("double").alias(c) for c in ("x0", "y0", "x1", "y1")]
    out = ocr_words.where(cond).select(
        "doc_id",
        F.col("page").cast("int").alias("page"),
        F.col("word_seq").cast("int").alias("word_seq"),
        (F.col("kind") if has_kind else F.lit("text")).alias("kind"),
        "content",
        (F.col("media_ref") if "media_ref" in ocr_words.columns else F.lit(None).cast("string")).alias("media_ref"),
        (F.col("rec_score") if "rec_score" in ocr_words.columns else F.lit(1.0)).alias("rec_score"),
        *box_cols,
    )
    return out


def _page_order(tbl):
    """The page loop both Arrow kernels share, over a chunk of COMPLETE
    documents sorted by (doc_id, page, word_seq).

    Detects doc and page boundaries and reading-orders every page once.
    Returns ``(perm, block_id, line_id, seq, word_id, doc_bounds)``: the
    chunk-wide row permutation, per-output-row block/line ids, the position
    within the page, the global offset within the document, and the row
    bounds of each document (before and after ``perm``, which never moves a
    row across a page)."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    pages = tbl.column("page").to_numpy()
    seqs = tbl.column("word_seq").to_numpy()
    boxes = np.stack(
        [tbl.column(c).to_numpy() for c in ("x0", "y0", "x1", "y1")], axis=1
    )
    ids = tbl.column("doc_id")
    id_change = np.flatnonzero(
        np.invert(
            pc.equal(ids.slice(1), ids.slice(0, n - 1)).to_numpy(zero_copy_only=False)
        )
    ) + 1
    page_change = np.flatnonzero(pages[1:] != pages[:-1]) + 1
    starts = np.concatenate(([0], np.union1d(id_change, page_change)))
    ends = np.concatenate((starts[1:], [n]))
    doc_bounds = np.concatenate(([0], id_change, [n]))

    perm = np.empty(n, dtype=np.int64)
    block_id = np.empty(n, dtype=np.int32)
    line_id = np.empty(n, dtype=np.int32)
    # Geometry memo: reading order is a pure function of (boxes, tiebreak),
    # and templated corpora (forms, rendered grids) repeat page layouts
    # verbatim, so identical bytes reuse the permutation. The dict lives for
    # this call only (common-subexpression elimination, not a cache across
    # tasks or runs); diverse layouts pay ~1 µs/page of hashing and miss.
    # Bound: a chunk is at most one Arrow batch (ARROW_MAX_RECORDS_PER_BATCH
    # rows) plus one carried-over document, and each page adds at most one
    # key, so the keys never hold more bytes than the chunk's own geometry
    # (36 a row) and the values no more than three int64s a row.
    memo: dict = {}
    for lo, hi in zip(starts.tolist(), ends.tolist()):
        sub = boxes[lo:hi]
        tb = seqs[lo:hi]
        key = (sub.tobytes(), tb.tobytes())
        hit = memo.get(key)
        if hit is None:
            p, b, l = page_reading_order(sub, tiebreak=tb)
            if len(memo) >= 8192:
                memo.clear()
            memo[key] = hit = (p, b[p], l[p])
        p, bp, lp = hit
        perm[lo:hi] = p + lo
        block_id[lo:hi] = bp
        line_id[lo:hi] = lp
    rows = np.arange(n, dtype=np.int32)
    seq = rows - np.repeat(starts, ends - starts).astype(np.int32)
    word_id = rows - np.repeat(doc_bounds[:-1], np.diff(doc_bounds)).astype(np.int32)
    return perm, block_id, line_id, seq, word_id, doc_bounds


def _order_chunk_arrow(tbl):
    """Chunk of complete documents → reading-ordered word rows
    (``ORDERED_SCHEMA``). Geometry and ids come out as zero-copy numpy;
    string columns are never materialized as Python objects — the reorder
    is a C++ ``take``, so the Python side stays allocation-free."""
    import pyarrow as pa

    perm, block_id, line_id, seq, word_id, _ = _page_order(tbl)
    taken = tbl.take(pa.array(perm))
    return pa.table(
        {
            "doc_id": taken.column("doc_id"),
            "page": taken.column("page"),
            "seq": pa.array(seq, type=pa.int32()),
            "kind": taken.column("kind"),
            "content": taken.column("content"),
            "media_ref": taken.column("media_ref"),
            "rec_score": taken.column("rec_score"),
            "x0": taken.column("x0"),
            "y0": taken.column("y0"),
            "x1": taken.column("x1"),
            "y1": taken.column("y1"),
            "block_id": pa.array(block_id, type=pa.int32()),
            "line_id": pa.array(line_id, type=pa.int32()),
            "word_id": pa.array(word_id, type=pa.int32()),
        }
    )


def _spans_chunk_arrow(tbl):
    """Chunk of complete documents → one row per doc with the assembled
    span array (``SPANS_TABLE_SCHEMA``). All array building is pyarrow C++."""
    import pyarrow as pa
    import pyarrow.compute as pc

    perm, _, _, _, word_id, doc_bounds = _page_order(tbl)
    taken = tbl.take(pa.array(perm))
    kind = taken.column("kind").combine_chunks()
    is_text = pc.equal(kind, "text")
    struct = pa.StructArray.from_arrays(
        [
            kind,
            pc.if_else(is_text, taken.column("content").combine_chunks(),
                       pa.scalar(None, pa.string())),
            pc.if_else(is_text, pa.scalar(None, pa.string()),
                       taken.column("media_ref").combine_chunks()),
            pa.array(word_id, type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(
        pa.array(doc_bounds, type=pa.int32()), struct
    )
    doc_ids = tbl.column("doc_id").take(pa.array(doc_bounds[:-1]))
    return pa.table({"doc_id": doc_ids, "spans": spans})


def _complete_docs(batches, build):
    """mapInArrow driver: a partition holds complete documents sorted by
    (doc_id, page, word_seq), but an Arrow batch may end mid-document, so
    the last document is carried into the next batch until its doc_id
    changes. Every complete-document chunk goes through ``build`` once."""
    import pyarrow as pa
    import pyarrow.compute as pc

    leftover = None
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if leftover is not None:
            tbl = pa.concat_tables([leftover, tbl]).combine_chunks()
            leftover = None
        n = tbl.num_rows
        if n == 0:
            continue
        ids = tbl.column("doc_id")
        not_last = np.invert(
            pc.equal(ids, ids.slice(n - 1, 1)[0]).to_numpy(zero_copy_only=False)
        )
        cut = int(np.flatnonzero(not_last).max() + 1) if not_last.any() else 0
        if cut > 0:
            yield from build(tbl.slice(0, cut)).to_batches()
        leftover = tbl.slice(cut)
    if leftover is not None and leftover.num_rows:
        yield from build(leftover.combine_chunks()).to_batches()


# named mapInArrow entry points, so plans and Python-worker metrics say
# which output the pass builds
def _order_partition_arrow(batches):
    return _complete_docs(batches, _order_chunk_arrow)


def _spans_partition_arrow(batches):
    return _complete_docs(batches, _spans_chunk_arrow)


def _by_doc(ocr_words: DataFrame) -> DataFrame:
    """The one exchange of every single-pass path: ``_clean``, hash
    ``repartition`` on doc_id (so a partition holds complete documents),
    then ``sortWithinPartitions(doc_id, page, word_seq)``. The partition
    count is always ``spark.sql.shuffle.partitions``, which is what lets an
    upstream ``repartition(n, doc_id)`` satisfy it with no second exchange."""
    n_part = int(ocr_words.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        _clean(ocr_words)
        .repartition(n_part, "doc_id")
        .sortWithinPartitions("doc_id", "page", "word_seq")
    )


def order_words(ocr_words: DataFrame) -> DataFrame:
    """``ocr_words(doc_id, page, word_seq, content, rec_score, points[, kind,
    media_ref])`` → reading-ordered words with global ``word_id`` (the
    ``offset`` of the target schema — SURVEY.md §2 W1, replacing the
    reference's O(n²) re-match at ``ocr.py:311-322``).

    Scale shape — exactly ONE shuffle (``_by_doc``) co-locates and orders
    each document, then a single ``mapInArrow`` pass assigns reading order
    AND global offsets per document (no window, no second shuffle). Box
    folding and the empty-word filter run JVM-side before the exchange.

    Skew: hash repartition balances documents across tasks; a pathological
    mega-document is bounded by the ingest page cap (the reference enforces
    ≤10 pages/doc, ``pdf.py:122-124``) and the kernel handles 10^5-word
    pages in-memory. For corpora with unbounded single documents use
    ``order_words_paged`` (page-parallel variant) below.
    """
    return _by_doc(ocr_words).mapInArrow(
        _order_partition_arrow, schema=ORDERED_SCHEMA
    )


def order_words_auto(
    ocr_words: DataFrame, mega_threshold: int = 100_000
) -> DataFrame:
    """Skew-routing wrapper (SURVEY.md §4 item 1 — the manual salt policy).

    Documents with more than ``mega_threshold`` words would stall the
    single-task-per-doc fast path, so they take the page-parallel route
    (pages spread across tasks, window for global offsets) while the bulk of
    the corpus takes the single-pass kernel; results union.

    ONE source scan (r2 VERDICT "What's wrong" #2 killed the former
    census + dual-rescan, which read a 100 TB words table twice): clean and
    shuffle on doc_id once, tag each row with its document's word count via
    a window over the partitioning that shuffle already established (no
    second exchange — the sort below satisfies the window's ordering too),
    then route with partition-local filters. Both branches read the SAME
    exchange (Spark plans the second read as a ReusedExchange), so the
    source parquet is scanned once however many branches fire.
    """
    tagged = _by_doc(ocr_words).withColumn(
        "__doc_n", F.count("*").over(Window.partitionBy("doc_id"))
    )
    normal = (
        tagged.where(F.col("__doc_n") <= mega_threshold)
        .drop("__doc_n")
        .mapInArrow(_order_partition_arrow, schema=ORDERED_SCHEMA)
    )
    mega = order_words_paged(
        tagged.where(F.col("__doc_n") > mega_threshold).drop("__doc_n"),
        _pre_cleaned=True,
    )
    return normal.unionByName(mega)


def order_words_paged(ocr_words: DataFrame, _pre_cleaned: bool = False) -> DataFrame:
    """Page-parallel variant: ``applyInPandas`` per (doc_id, page) then a
    window for global offsets. Two shuffles, higher per-group overhead, but
    a single enormous document parallelizes across its pages — the manual
    salting policy for unbounded-doc corpora (SURVEY.md §4 item 1).
    ``_pre_cleaned`` skips the empty-word filter / box folding when the
    input already went through ``_clean`` (the auto router's mega branch)."""
    cleaned = ocr_words if _pre_cleaned else _clean(ocr_words)
    laid_out = cleaned.groupBy("doc_id", "page").applyInPandas(
        _layout_one_page_flat, schema=LAYOUT_SCHEMA
    )
    w = Window.partitionBy("doc_id").orderBy("page", "seq")
    return laid_out.withColumn("word_id", (F.row_number().over(w) - 1).cast("int"))


def spans_table(ocr_words: DataFrame) -> DataFrame:
    """Fused fast path: ``ocr_words`` → canonical ``documents(doc_id, spans)``
    in ONE shuffle and ONE Python pass — reading order, global offsets AND
    span assembly happen inside the kernel, so there is no downstream
    groupBy/collect_list stage and word-level rows never re-cross the Arrow
    boundary (output is one nested row per document).

    Semantically identical to ``assemble_spans(order_words(df))`` (tested);
    prefer this form in pipelines that don't also need the word-level table.
    """
    return _by_doc(ocr_words).mapInArrow(
        _spans_partition_arrow, schema=SPANS_TABLE_SCHEMA
    )


def assemble_spans(ordered_words: DataFrame) -> DataFrame:
    """Ordered words → canonical ``documents(doc_id, spans)`` table.

    Pure built-in aggregation: collect (offset-first) structs, sort_array for
    the deterministic serialization the invariant demands (never rely on UDF
    emission order across shuffles), then reshape to (kind, text, media_ref,
    offset). Text spans carry NULL media_ref and vice versa (FIXTURES.md §1).
    """
    span_struct = F.struct(
        F.col("word_id").alias("offset"),
        F.col("kind").alias("kind"),
        F.when(F.col("kind") == "text", F.col("content")).alias("text"),
        F.when(F.col("kind") == "media", F.col("media_ref")).alias("media_ref"),
    )
    return (
        ordered_words.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(span_struct)).alias("_s"))
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
