"""Wild-PDF fuzz containment (O6): adversarial mutations of the writer's
output — truncations, byte flips, structural deletions, lying /Length
values, binary garbage — must flow through ``pdf_words_table`` /
``pdf_meta`` / ``pdf_media_table`` as error rows or zero rows, NEVER as a
task failure. The reference consumes arbitrary uploads
(lambda/api/app/utils/pdf.py:53-87); this is the engine's equivalent gate.

Mutations are deterministic (seeded RNG + fixed offsets) so failures
reproduce."""

from __future__ import annotations

import re
import zlib

import numpy as np
import pytest

from autoextract.operators.layout import spans_table
from autoextract.sources.pdf import (
    encrypt_pdf,
    make_text_pdf,
    pdf_media_table,
    pdf_meta,
    pdf_page_count,
    pdf_words_table,
    to_objstm_pdf,
)


def _base_pdfs() -> dict[str, bytes]:
    words = [[("alpha", 50, 60), ("beta", 140, 60), (None, 50, 200, 100, 80)]]
    jpeg = b"\xff\xd8fakejpegpayload\xff\xd9"
    return {
        "plain": make_text_pdf(words),
        "flate": make_text_pdf(words, compress=True),
        "lzw": make_text_pdf(words, compress="lzw"),
        "tm": make_text_pdf(words, use_tm=True),
        "media": make_text_pdf(words, image_jpeg=jpeg),
        "flate_tm_media": make_text_pdf(
            words, compress=True, use_tm=True, image_jpeg=jpeg
        ),
        "objstm": to_objstm_pdf(make_text_pdf(words, compress=True)),
        "a85": make_text_pdf(words, compress="a85+flate"),
        "type0": make_text_pdf(words, font="type0"),
        "encrypted": encrypt_pdf(make_text_pdf(words, compress=True)),
        "aes128": encrypt_pdf(make_text_pdf(words, compress=True), revision=4),
        "aes256": encrypt_pdf(make_text_pdf(words, compress=True), revision=5),
        "inline_img": make_text_pdf(words, inline_image=(4, 4, bytes(range(48)))),
    }


def _mutations() -> list[tuple[str, bytes]]:
    """≥20 deterministic adversarial byte strings derived from real writer
    output."""
    rng = np.random.RandomState(42)
    bases = _base_pdfs()
    plain, flate, media = bases["plain"], bases["flate"], bases["media"]
    lzw, objstm = bases["lzw"], bases["objstm"]
    muts: list[tuple[str, bytes]] = []

    # new-shape mutations: corrupt LZW body, truncated ObjStm, lying /First
    muts.append(("lzw_corrupt_body",
                 lzw[: lzw.find(b"stream\n") + 9] + b"\xff" * 16
                 + lzw[lzw.find(b"stream\n") + 25 :]))
    muts.append(("objstm_truncated", objstm[: len(objstm) // 2]))
    muts.append(("objstm_bad_first",
                 re.sub(rb"/First \d+", b"/First 999999", objstm)))
    muts.append(("objstm_bad_n", re.sub(rb"/N \d+", b"/N 9999", objstm)))
    type0 = bases["type0"]
    muts.append(("type0_no_tounicode", re.sub(rb"/ToUnicode \d+ 0 R", b"", type0)))
    tou_stream = type0.find(b"stream", type0.find(b"/CIDSystemInfo"))
    muts.append(("type0_corrupt_cmap",
                 type0[: tou_stream + 10] + b"\x00" * 8 + type0[tou_stream + 18 :]))
    encd = bases["encrypted"]
    muts.append(("encrypted_bad_u",
                 re.sub(rb"/U <[0-9a-f]+>", b"/U <" + b"00" * 32 + b">", encd)))
    muts.append(("encrypted_trunc", encd[: int(len(encd) * 0.6)]))
    aes = bases["aes128"]
    # AES-specific shapes: stream not a whole number of blocks after the IV,
    # corrupted IV+ciphertext (padding strips garbage), truncation, and a
    # V5 file whose /UE key wrap is damaged (file key unrecoverable)
    si = aes.find(b"stream\n") + 7
    muts.append(("aes_ragged_blocks", aes[: si + 20] + aes[si + 27 :]))
    ivflip = bytearray(aes)
    for k in range(16):
        ivflip[si + k] ^= 0xA5
    muts.append(("aes_corrupt_iv", bytes(ivflip)))
    muts.append(("aes_trunc", aes[: int(len(aes) * 0.55)]))
    aes2 = bases["aes256"]
    muts.append(("aes256_bad_ue",
                 re.sub(rb"/UE <[0-9a-f]{8}", b"/UE <deadbeef", aes2)))
    muts.append(("aes256_short_u",
                 re.sub(rb"/U <[0-9a-f]+>", b"/U <aabb>", aes2)))
    inl = bases["inline_img"]
    muts.append(("inline_no_ei", inl.replace(b"EI Q", b"   Q")))
    muts.append(("inline_lying_dims", inl.replace(b"/W 4 /H 4", b"/W 99 /H 99")))

    # truncations at structural boundaries and arbitrary offsets
    for frac in (0.1, 0.3, 0.5, 0.7, 0.9):
        muts.append((f"trunc_{frac}", plain[: int(len(plain) * frac)]))
    muts.append(("trunc_mid_stream", flate[: flate.find(b"endstream") - 3]))
    muts.append(("trunc_before_trailer", plain[: plain.rfind(b"trailer")]))

    # structural deletions
    muts.append(("no_xref", re.sub(rb"xref[\s\S]*?(?=trailer)", b"", plain)))
    muts.append(("no_trailer", plain[: plain.rfind(b"trailer")] + b"%%EOF"))
    muts.append(("no_endobj", plain.replace(b"endobj", b"", 2)))
    muts.append(("no_kids", plain.replace(b"/Kids", b"/Kidz")))
    muts.append(("no_contents", plain.replace(b"/Contents", b"/Contentz")))
    muts.append(("no_pages_type", plain.replace(b"/Type /Pages", b"/Type /Pagez")))

    # lying metadata
    muts.append(("length_too_big", re.sub(rb"/Length \d+", b"/Length 999999", flate)))
    muts.append(("length_zero", re.sub(rb"/Length \d+", b"/Length 0", flate)))
    muts.append(("length_negative_ref", re.sub(rb"/Length \d+", b"/Length x", media)))
    muts.append(("bad_mediabox", plain.replace(b"/MediaBox [0 0 ", b"/MediaBox [a b ")))
    muts.append(("kids_cycle", re.sub(rb"/Kids \[[^\]]*\]", b"/Kids [2 0 R]", plain)))

    # corrupted payloads
    corrupt_flate = bytearray(flate)
    si = flate.find(b"stream") + 10
    corrupt_flate[si : si + 8] = b"\x00" * 8
    muts.append(("corrupt_deflate", bytes(corrupt_flate)))
    flipped = bytearray(plain)
    for pos in rng.randint(0, len(plain), 40):
        flipped[pos] ^= 0xFF
    muts.append(("bitflips_40", bytes(flipped)))
    shuffled = bytearray(media)
    mid = len(media) // 2
    shuffled[mid : mid + 64] = shuffled[mid : mid + 64][::-1]
    muts.append(("reversed_window", bytes(shuffled)))

    # garbage / misleading headers
    muts.append(("pure_garbage", bytes(rng.randint(0, 256, 4096, dtype=np.uint8).data)))
    muts.append(("header_only", b"%PDF-1.7\n%%EOF"))
    muts.append(("empty", b""))
    muts.append(("zlib_bomb_stream",
                 plain.replace(b"stream\n", b"stream\n" + zlib.compress(b"\x00" * 65536), 1)))
    muts.append(("nested_fake_objs",
                 media + b"\n1 0 obj\n<< /Type /Catalog >>\nendobj\n" * 5))
    muts.append(("recursive_contents",
                 re.sub(rb"/Contents (\d+) 0 R", rb"/Contents [\1 0 R \1 0 R]", plain)))

    # one Td y-operand overflows to ±inf (a 400-digit number, /Length kept
    # consistent so the parser still emits the word): the word must stay a
    # span instead of failing the layout task
    for name, big in (("inf_y_coordinate", b"-" + b"9" * 400),
                      ("neg_inf_y_coordinate", b"9" * 400)):
        m = plain.replace(b"50 720 Td", b"50 " + big + b" Td", 1)
        muts.append((name, re.sub(
            rb"/Length (\d+)",
            lambda g: b"/Length %d" % (int(g.group(1)) + len(big) - 3), m, count=1,
        )))
    return muts


_NON_FINITE = ("inf_y_coordinate", "neg_inf_y_coordinate")


def test_fuzz_pure_python_containment():
    """pdf_page_count never raises on any mutation (the kernels' unguarded
    fast path) — errors surface as 0 pages."""
    for name, data in _mutations():
        try:
            n = pdf_page_count(data)
        except Exception as exc:  # pragma: no cover
            pytest.fail(f"pdf_page_count raised on {name}: {exc!r}")
        assert n >= 0


def test_fuzz_tables_contained(spark):
    muts = _mutations()
    assert len(muts) >= 20
    pdfs = spark.createDataFrame(
        [(name, data) for name, data in muts], "doc_id string, payload binary"
    )
    meta = {r["doc_id"]: r for r in pdf_meta(pdfs).collect()}
    # exactly one meta row per input, valid or not — nothing dropped
    assert set(meta) == {name for name, _ in muts}
    # words/media tables complete without task failure; every row traces to
    # an input doc
    words = pdf_words_table(pdfs).collect()
    assert {r["doc_id"] for r in words} <= set(meta)
    media_rows = pdf_media_table(pdfs).collect()
    assert {r["doc_id"] for r in media_rows} <= set(meta)
    # the layout kernel takes every parsed word, however hostile its box
    spans = {r["doc_id"]: r["spans"] for r in spans_table(pdf_words_table(pdfs)).collect()}
    assert set(spans) <= set(meta)
    for name in _NON_FINITE:
        assert [s["offset"] for s in spans[name]] == [0, 1, 2], name
        assert sorted(s["text"] or s["media_ref"] for s in spans[name]) == [
            "alpha", "beta", f"pdf:{name}:0"
        ]
    # sanity: the fuzzer is not vacuous — some mutants still parse (e.g.
    # no_xref: the scanner never consults xref), some are rejected
    assert any(m["valid"] for m in meta.values())
    assert any(not m["valid"] for m in meta.values())
    # invalid docs carry an error message
    assert all(m["error"] for m in meta.values() if not m["valid"])


def test_fuzz_valid_bases_unaffected(spark):
    """The unmutated writer outputs all parse as valid with 1 page."""
    pdfs = spark.createDataFrame(
        list(_base_pdfs().items()), "doc_id string, payload binary"
    )
    meta = pdf_meta(pdfs).collect()
    assert all(r["valid"] and r["n_pages"] == 1 for r in meta)
    words = pdf_words_table(pdfs)
    counts = {r["doc_id"]: r["n"] for r in
              words.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    assert len(counts) == 13  # + aes128/aes256 (r5)
    assert all(n == 3 for n in counts.values())  # 2 words + 1 media placeholder
