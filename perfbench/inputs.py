"""Seeded inputs and their generator-side oracles, cached on disk.

Each workload's inputs are a pure function of (workload, seed, size). They are
generated with plain pyarrow, before any Spark session exists, and written
under ``<cache>/<workload>-s<seed>-n<size>/``. A later run with the same key
reads them back, so generation is outside both the timed region and
``setup_s``. The program under test only ever sees the ``input`` parquet; the
``oracle*`` files are read by ``perfbench.checks`` alone.

Oracles come from the generation plan, never from the engine:

* ``forms_full`` — ``corpus._gen_one_doc`` (the body ``corpus.gen_corpus`` maps
  over): construction order (``true_order``) gives the expected span sequence,
  and its second return value is ``corpus.expected_extracted``'s row set.
* ``grid_resume`` — the source text, whitespace-normalised; a grid page's
  reading order is its token order.
* ``pdf_spans`` — single-column pages typeset with ``sources.pdf.make_text_pdf``,
  so construction order is reading order. Malformed payloads are only garbage,
  empty or over the page cap, each of which deterministically yields no rows.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from autoextract import corpus
from autoextract.sources import pdf as pdfsrc

#: documents per input set (one timed repetition processes all of them)
SIZES = {"forms_full": 2000, "grid_resume": 6000, "pdf_spans": 2500}
#: documents in the smaller set the warm-up runs on; a cold first job costs
#: about the same at this size as at the full one
WARM_SIZE = 500

SPANS_FLAT = pa.schema(
    [
        ("doc_id", pa.string()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
EXTRACTED = pa.schema(
    [
        ("doc_id", pa.string()),
        ("field_path", pa.string()),
        ("value", pa.string()),
        ("word_ids", pa.list_(pa.int32())),
        ("confidence", pa.float64()),
    ]
)
OCR_WORDS = pa.schema(
    [
        ("doc_id", pa.string()),
        ("page", pa.int32()),
        ("word_seq", pa.int32()),
        ("kind", pa.string()),
        ("content", pa.string()),
        ("media_ref", pa.string()),
        ("rec_score", pa.float64()),
        ("points", pa.list_(pa.list_(pa.float64()))),
    ]
)

# the sf0.1 documents' shape: 10-100 tokens (91 distinct lengths) drawn from a
# small engine-jargon vocabulary
_GRID_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data"
).split()
_PDF_VOCAB = (
    "invoice total amount due date ship to bill from order item qty unit "
    "price tax net gross ref account bank branch code note page sum paid"
).split()
#: share of pdf_spans payloads that are malformed, by kind; each yields no rows
PDF_REJECTS = (("garbage", 0.06), ("empty", 0.03), ("overcap", 0.03))
_PDF_FONT = 12.0


def _rng(seed: int, salt: int) -> np.random.RandomState:
    return np.random.RandomState((seed * 7_919 + salt) % (2**31 - 1))


def _gen_forms(seed: int, n: int):
    rows, expected = [], []
    for i in range(n):
        r, e = corpus._gen_one_doc(i, seed)
        rows.extend(r)
        expected.extend(e)
    # the input arrives in OCR emission order (word_seq is shuffled per page)
    words = pa.Table.from_pylist(
        sorted(rows, key=lambda r: (r["doc_id"], r["page"], r["word_seq"])), schema=OCR_WORDS
    )
    rows.sort(key=lambda r: (r["doc_id"], r["true_order"]))
    spans = pa.table(
        {
            "doc_id": [r["doc_id"] for r in rows],
            "kind": [r["kind"] for r in rows],
            "text": [r["content"] if r["kind"] == "text" else None for r in rows],
            "media_ref": [r["media_ref"] if r["kind"] == "media" else None for r in rows],
            "offset": [r["true_order"] for r in rows],
        },
        schema=SPANS_FLAT,
    )
    return words, {"oracle_spans": spans, "oracle_extracted": pa.Table.from_pylist(expected, schema=EXTRACTED)}


def _gen_grid(seed: int, n: int):
    rng = _rng(seed, 1)
    vocab = np.array(_GRID_VOCAB)
    lengths = rng.randint(10, 101, size=n)
    texts = [" ".join(vocab[rng.randint(len(vocab), size=k)]) for k in lengths]
    # distinct ids per seed, as bench.py's replication gives distinct ids
    ids = np.arange(n, dtype=np.int64) + seed * 10_000_000
    docs = pa.table({"doc_id": ids, "text": texts})
    return docs, {"oracle_text": pa.table({"doc_id": ids.astype(str), "text": texts})}


def _pdf_pages(rng, doc_id: str, words_out: list, n_pages: int) -> list:
    pages = []
    media_n = 0
    for _ in range(n_pages):
        els, y = [], 60.0
        for _line in range(int(rng.randint(4, 11))):
            if rng.rand() < 0.05:  # a full-width figure between lines
                els.append((None, 50.0, y, 400.0, 60.0))
                words_out.append(("media", None, f"pdf:{doc_id}:{media_n}"))
                media_n += 1
                y += 72.0
            x = 50.0
            for _w in range(int(rng.randint(3, 8))):
                t = _PDF_VOCAB[rng.randint(len(_PDF_VOCAB))]
                els.append((t, x, y))
                words_out.append(("text", t, None))
                # inter-word gap 6 < X_GAP_FACTOR * font size: no column cut
                x += pdfsrc.CHAR_W * _PDF_FONT * len(t) + 6.0
            y += 20.0
        pages.append(els)
    return pages


def _gen_pdf(seed: int, n: int):
    rng = _rng(seed, 2)
    ids, payloads, kinds = [], [], []
    flat = {f.name: [] for f in SPANS_FLAT}
    cum = np.cumsum([share for _, share in PDF_REJECTS])
    for i in range(n):
        doc_id = f"pdf-{seed}-{i:07d}"
        u = rng.rand()
        kind = next((k for (k, _), c in zip(PDF_REJECTS, cum) if u < c), "ok")
        if kind == "garbage":
            data = rng.randint(0, 256, size=int(rng.randint(200, 4000))).astype(np.uint8).tobytes()
        elif kind == "empty":
            data = b""
        elif kind == "overcap":
            data = pdfsrc.make_text_pdf(
                _pdf_pages(rng, doc_id, [], pdfsrc.MAX_PAGES + 1), font_size=_PDF_FONT
            )
        else:
            words: list = []
            pages = _pdf_pages(rng, doc_id, words, int(rng.randint(1, 4)))
            data = pdfsrc.make_text_pdf(
                pages,
                font_size=_PDF_FONT,
                compress=bool(rng.rand() < 0.5),
                use_tm=bool(rng.rand() < 0.5),
            )
            for off, (k, t, ref) in enumerate(words):
                for col, v in zip(SPANS_FLAT.names, (doc_id, k, t, ref, off)):
                    flat[col].append(v)
        ids.append(doc_id)
        payloads.append(data)
        kinds.append(kind)
    src = pa.table({"doc_id": ids, "payload": pa.array(payloads, pa.binary())})
    plan = pa.table({"doc_id": ids, "plan": kinds})
    return src, {"oracle_spans": pa.table(flat, schema=SPANS_FLAT), "oracle_plan": plan}


GENERATORS = {"forms_full": _gen_forms, "grid_resume": _gen_grid, "pdf_spans": _gen_pdf}


def cache_path(cache_dir: str, workload: str, seed: int, n: int | None = None) -> str:
    return os.path.join(cache_dir, f"{workload}-s{seed}-n{n or SIZES[workload]}")


def materialize(cache_dir: str, workload: str, seed: int, n: int | None = None) -> str:
    """Return the directory holding ``input.parquet`` and the oracle files for
    (workload, seed, n), generating it first if it is not cached."""
    n = n or SIZES[workload]
    path = cache_path(cache_dir, workload, seed, n)
    if os.path.isdir(path):  # written under another name, then renamed whole
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    src, oracles = GENERATORS[workload](seed, n)
    pq.write_table(src, os.path.join(tmp, "input.parquet"))
    for name, tbl in oracles.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "docs": n}, f)
    os.rename(tmp, path)
    return path


if __name__ == "__main__":
    import sys

    # python3 -m perfbench.inputs <cache_dir> <workload> <seed>
    for n in (None, WARM_SIZE):
        materialize(sys.argv[1], sys.argv[2], int(sys.argv[3]), n)
