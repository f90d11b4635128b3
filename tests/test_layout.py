"""Layout engine: pure page-algorithm units + Spark fixture goldens (SURVEY.md §2 P4/P5/W1/W3)."""

from __future__ import annotations

import numpy as np

from autoextract import corpus
from autoextract.operators import layout


def _boxes(rows):
    return np.array(rows, dtype=np.float64)


class TestPureGeometry:
    def test_xy_cut_two_columns(self):
        # two line-spaced columns, tall enough to allow the x-cut
        left = [[0, y, 80, y + 10] for y in range(0, 70, 14)]
        right = [[200, y, 280, y + 10] for y in range(0, 70, 14)]
        perm, block_id, line_id = layout.page_reading_order(_boxes(left + right))
        assert block_id.tolist() == [0] * 5 + [1] * 5  # left first
        assert perm.tolist() == list(range(10))
        assert line_id.tolist() == list(range(5)) * 2

    def test_xy_cut_never_splits_single_line(self):
        # three words on one line with wide gaps — must stay one block
        b = _boxes([[0, 0, 50, 30], [150, 0, 200, 30], [300, 0, 350, 30]])
        perm, block_id, line_id = layout.page_reading_order(b)
        assert block_id.tolist() == [0, 0, 0]
        assert line_id.tolist() == [0, 0, 0]
        assert perm.tolist() == [0, 1, 2]

    def test_cluster_lines(self):
        b = _boxes(
            [[0, 0, 10, 10], [20, 1, 30, 11], [0, 40, 10, 50], [20, 41, 30, 51]]
        )
        _, block_id, line_id = layout.page_reading_order(b)
        # a visual line is a (block, line) pair
        assert list(zip(block_id.tolist(), line_id.tolist())) == [
            (0, 0), (0, 0), (1, 0), (1, 0)
        ]

    def test_reading_order_deterministic_under_permutation(self):
        rng = np.random.RandomState(3)
        rows = []
        for li in range(6):
            for wi in range(4):
                rows.append([50 + 100 * wi, 100 + 40 * li, 130 + 100 * wi, 130 + 40 * li])
        b = _boxes(rows)
        perm0, _, _ = layout.page_reading_order(b, tiebreak=np.arange(len(b)))
        shuffle = rng.permutation(len(b))
        perm1, _, _ = layout.page_reading_order(
            b[shuffle], tiebreak=np.arange(len(b))
        )
        # same geometric order regardless of input permutation
        assert [tuple(b[shuffle][i]) for i in perm1] == [tuple(b[i]) for i in perm0]


def _digest_pages():
    """Seeded pages: grid, two-column, scatter and duplicate-box (tie)
    layouts of 1–300 words, plus five 5k–10k-word pages."""
    rng = np.random.RandomState(20261018)

    def grid(n, x_off=0.0):
        cols = rng.randint(1, 8)
        w, h = rng.uniform(30, 90), rng.uniform(8, 20)
        i = np.arange(n)
        x0 = x_off + (i % cols) * (w + rng.uniform(5, 40)) + rng.uniform(0, 3, n)
        y0 = (i // cols) * (h + rng.uniform(2, 30)) + rng.uniform(0, 3, n)
        return np.stack([x0, y0, x0 + w, y0 + h], axis=1)

    def two_column(n):
        left = grid((n + 1) // 2)
        right = grid(n // 2, x_off=left[:, 2].max() + rng.uniform(60, 200))
        return np.concatenate([left, right])

    def scatter(n):
        x0, y0 = rng.uniform(0, 1000, n), rng.uniform(0, 1400, n)
        return np.stack(
            [x0, y0, x0 + rng.uniform(10, 80, n), y0 + rng.uniform(8, 30, n)], axis=1
        )

    def duplicates(n):
        base = grid(max(1, n // 4))
        return base[rng.randint(0, len(base), n)]

    pages = []
    for make in (grid, two_column, scatter, duplicates):
        for n in rng.randint(1, 301, 40):
            pages.append(make(n))
    pages += [grid(6000), two_column(8000), scatter(5000), duplicates(10000),
              grid(4097)]
    for boxes in pages:
        n = len(boxes)
        tb = rng.permutation(n) if rng.rand() < 0.5 else np.arange(n)
        yield boxes, tb


def test_page_reading_order_digest():
    """Bit-identity pin over ``(perm, block_id, line_id)``: the digest was
    computed with the former two-path kernel (pure Python up to 4,096
    words, NumPy XY-cut above), so any change in output fails here."""
    import hashlib

    h = hashlib.sha256()
    for boxes, tb in _digest_pages():
        for arr in layout.page_reading_order(boxes, tiebreak=tb):
            h.update(np.asarray(arr, dtype="<i8").tobytes())
    assert h.hexdigest() == "8e51e4eeb13d78f60c369b4471f402d893fc6d7ddf01e591db02f1ccd70bc0a1"


class TestSparkLayout:
    def test_boxes_from_points(self, spark):
        """Corner quads fold to [x0, y0, x1, y1] JVM-side in ``_clean``."""
        df = spark.createDataFrame(
            [("d", 1, 0, "w", [[50.0, 120.0], [250.0, 120.0], [250.0, 150.0], [50.0, 150.0]])],
            "doc_id string, page int, word_seq int, content string, "
            "points array<array<double>>",
        )
        r = layout._clean(df).collect()[0]
        assert [r["x0"], r["y0"], r["x1"], r["y1"]] == [50.0, 120.0, 250.0, 150.0]

    def test_two_column_fixture(self, spark):
        from autoextract.operators.layout import assemble_spans, order_words

        df = spark.createDataFrame(
            corpus.two_column_words_pdf(), schema=corpus.OCR_WORDS_SCHEMA
        )
        spans = assemble_spans(order_words(df)).collect()[0]["spans"]
        assert [s["text"] for s in spans] == corpus.TWO_COLUMN_EXPECTED
        assert [s["offset"] for s in spans] == list(range(len(spans)))

    def test_media_interleaving(self, spark):
        from autoextract.operators.layout import assemble_spans, order_words

        df = spark.createDataFrame(
            corpus.media_words_pdf(), schema=corpus.OCR_WORDS_SCHEMA
        )
        spans = assemble_spans(order_words(df)).collect()[0]["spans"]
        got = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        assert got == corpus.MEDIA_EXPECTED

    def test_empty_words_dropped(self, spark):
        """Reference rule: blank content never becomes a span (inference.py:108)."""
        import pandas as pd

        from autoextract.operators.layout import assemble_spans, order_words

        pdf = corpus.example_words_pdf()
        blank = pdf.iloc[0:1].copy()
        blank["content"] = "   "
        blank["word_seq"] = 99
        df = spark.createDataFrame(
            pd.concat([pdf, blank], ignore_index=True), schema=corpus.OCR_WORDS_SCHEMA
        )
        spans = assemble_spans(order_words(df)).collect()[0]["spans"]
        assert len(spans) == 6
        assert all(s["text"].strip() for s in spans)


class TestGeometryMemo:
    """The per-chunk geometry memo in the Arrow kernels must be pure CSE:
    identical (boxes, tiebreak) bytes reuse the permutation, ANY byte
    difference — including tiebreak-only differences — recomputes."""

    def _chunk(self, layouts):
        """Build a sorted (doc, page, word_seq) arrow table from
        [(doc_id, [(x0,y0,x1,y1), ...], seqs), ...]."""
        import pyarrow as pa

        cols = {k: [] for k in ("doc_id", "page", "word_seq", "kind",
                                "content", "media_ref", "rec_score",
                                "x0", "y0", "x1", "y1")}
        for doc_id, boxes, seqs in layouts:
            for (bx, by, ex, ey), sq in zip(boxes, seqs):
                cols["doc_id"].append(doc_id)
                cols["page"].append(1)
                cols["word_seq"].append(sq)
                cols["kind"].append("text")
                cols["content"].append(f"{doc_id}w{sq}")
                cols["media_ref"].append(None)
                cols["rec_score"].append(1.0)
                cols["x0"].append(bx)
                cols["y0"].append(by)
                cols["x1"].append(ex)
                cols["y1"].append(ey)
        import pyarrow as pa

        return pa.table(
            {
                "doc_id": pa.array(cols["doc_id"]),
                "page": pa.array(cols["page"], pa.int32()),
                "word_seq": pa.array(cols["word_seq"], pa.int32()),
                "kind": pa.array(cols["kind"]),
                "content": pa.array(cols["content"]),
                "media_ref": pa.array(cols["media_ref"], pa.string()),
                "rec_score": pa.array(cols["rec_score"]),
                "x0": pa.array(cols["x0"]),
                "y0": pa.array(cols["y0"]),
                "x1": pa.array(cols["x1"]),
                "y1": pa.array(cols["y1"]),
            }
        )

    def test_repeated_and_distinct_layouts_match_direct(self):
        import numpy as np

        from autoextract.operators.layout import (
            _spans_chunk_arrow,
            page_reading_order,
        )

        grid = [(40.0 + 70.0 * (i % 3), 40.0 + 32.0 * (i // 3),
                 100.0 + 70.0 * (i % 3), 52.0 + 32.0 * (i // 3))
                for i in range(7)]
        scatter = [(10.0 * i, 500.0 - 13.0 * i, 10.0 * i + 40.0,
                    512.0 - 13.0 * i) for i in range(5)]
        # d1/d2 share the grid (memo hit), d3 differs (miss), d4 repeats
        # the grid boxes but with REVERSED tiebreak seqs (must miss)
        layouts = [
            ("d1", grid, list(range(7))),
            ("d2", grid, list(range(7))),
            ("d3", scatter, list(range(5))),
            ("d4", grid, list(range(6, -1, -1))),
        ]
        out = _spans_chunk_arrow(self._chunk(layouts))
        got = {
            d: [s["text"] for s in spans]
            for d, spans in zip(out.column("doc_id").to_pylist(),
                                out.column("spans").to_pylist())
        }
        for doc_id, boxes, seqs in layouts:
            p, _, _ = page_reading_order(
                np.array(boxes, dtype=np.float64),
                tiebreak=np.array(seqs),
            )
            expect = [f"{doc_id}w{seqs[j]}" for j in p]
            assert got[doc_id] == expect, doc_id
        # the tiebreak-reversed doc must NOT equal the straight-grid order
        assert got["d4"] != [t.replace("d1", "d4") for t in got["d1"]]

    def test_order_kernel_memo_matches_direct(self):
        import numpy as np

        from autoextract.operators.layout import (
            _order_chunk_arrow,
            page_reading_order,
        )

        grid = [(40.0 + 70.0 * (i % 3), 40.0 + 32.0 * (i // 3),
                 100.0 + 70.0 * (i % 3), 52.0 + 32.0 * (i // 3))
                for i in range(6)]
        layouts = [("a", grid, list(range(6))), ("b", grid, list(range(6)))]
        out = _order_chunk_arrow(self._chunk(layouts))
        p, b, l = page_reading_order(
            np.array(grid, dtype=np.float64), tiebreak=np.arange(6)
        )
        contents = out.column("content").to_pylist()
        blocks = out.column("block_id").to_pylist()
        lines = out.column("line_id").to_pylist()
        for start, doc in ((0, "a"), (6, "b")):
            assert contents[start:start + 6] == [f"{doc}w{j}" for j in p]
            assert blocks[start:start + 6] == list(b[p])
            assert lines[start:start + 6] == list(l[p])
