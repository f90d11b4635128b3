"""Property-based invariants (hypothesis) over the pure-Python cores.

These pin the determinism guarantees the north rule depends on: reading
order must be a total, input-permutation-invariant function of geometry —
otherwise N-vs-4N runs could serialize spans differently."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from autoextract.operators import layout
from autoextract.operators.html import html_to_spans


def boxes_strategy(max_n: int = 40):
    box = st.tuples(
        st.integers(0, 900), st.integers(0, 900),
        st.integers(10, 80), st.integers(10, 40),
    ).map(lambda t: (float(t[0]), float(t[1]), float(t[0] + t[2]), float(t[1] + t[3])))
    return st.lists(box, min_size=1, max_size=max_n).map(
        lambda rows: np.array(rows, dtype=np.float64)
    )


def special_boxes_strategy(max_n: int = 40):
    """Boxes whose coordinates may each be NaN or ±inf (one parsed from a
    hostile payload), in any order — inverted boxes included."""
    coord = st.one_of(
        st.integers(0, 900).map(float),
        st.sampled_from([float("nan"), float("inf"), float("-inf")]),
    )
    return st.lists(st.tuples(coord, coord, coord, coord), min_size=1, max_size=max_n).map(
        lambda rows: np.array(rows, dtype=np.float64)
    )


@given(st.one_of(boxes_strategy(), special_boxes_strategy()))
@settings(max_examples=120, deadline=None)
def test_reading_order_is_bijection(boxes):
    perm, block_id, line_id = layout.page_reading_order(
        boxes, tiebreak=np.arange(len(boxes))
    )
    assert sorted(perm.tolist()) == list(range(len(boxes)))
    assert len(block_id) == len(boxes) and len(line_id) == len(boxes)


@given(boxes_strategy(), st.randoms(use_true_random=False))
@settings(max_examples=40, deadline=None)
def test_reading_order_invariant_under_input_permutation(boxes, rnd):
    """Shuffling input rows must not change the geometric serialization.
    Tiebreak is supplied per-geometry (stable identity), not per-position."""
    n = len(boxes)
    ident = np.arange(n)
    perm0, _, _ = layout.page_reading_order(boxes, tiebreak=ident)
    order0 = [tuple(boxes[i]) + (i,) for i in perm0]

    shuffle = list(range(n))
    rnd.shuffle(shuffle)
    shuffle = np.array(shuffle)
    boxes2 = boxes[shuffle]
    perm1, _, _ = layout.page_reading_order(boxes2, tiebreak=ident[shuffle])
    order1 = [tuple(boxes2[i]) + (ident[shuffle][i],) for i in perm1]
    assert order0 == order1


@given(boxes_strategy())
@settings(max_examples=40, deadline=None)
def test_xy_cut_partitions_indices(boxes):
    """Blocks partition the words: dense ids 0..k-1, and reading order
    visits each block as one contiguous run, in id order."""
    perm, block_id, _ = layout.page_reading_order(boxes)
    in_order = block_id[perm].tolist()
    assert in_order == sorted(in_order)
    assert sorted(set(in_order)) == list(range(in_order[-1] + 1))


@given(boxes_strategy())
@settings(max_examples=40, deadline=None)
def test_cluster_lines_ids_dense_topdown(boxes):
    """Within each block, line ids are dense 0..k-1 and reading order walks
    them top-down (non-decreasing)."""
    perm, block_id, line_id = layout.page_reading_order(boxes)
    for b in set(block_id.tolist()):
        lines = [line_id[i] for i in perm if block_id[i] == b]
        assert lines == sorted(lines)
        assert sorted(set(lines)) == list(range(len(set(lines))))


@given(st.text(max_size=400))
@settings(max_examples=60, deadline=None)
def test_html_stripper_never_crashes_or_emits_blank(text):
    spans = html_to_spans("d", text)
    for kind, t, ref in spans:
        if kind == "text":
            assert t and t.strip()
            assert ref is None
        else:
            assert t is None and ref


@given(st.lists(st.sampled_from("ab cd ef gh ij kl".split()), min_size=1, max_size=30))
@settings(max_examples=30, deadline=None)
def test_simhash_token_order_invariant(tokens):
    """SimHash is a bag-of-tokens sketch: permutation must not change it."""
    import hashlib

    def sketch(toks):
        hs = np.frombuffer(
            b"".join(hashlib.md5(t.encode()).digest()[:8] for t in toks), dtype="<u8"
        ).astype(np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        counts = (2 * bits - 1).sum(axis=0)
        out = np.uint64(0)
        for b in np.nonzero(counts > 0)[0]:
            out |= np.uint64(1) << np.uint64(b)
        return int(out)

    assert sketch(tokens) == sketch(list(reversed(tokens)))


# ---- PDF writer↔parser round-trip (sources/pdf.py) ----------------------

_pdf_token = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), blacklist_characters=" \t\n\r"
    ),
    min_size=1,
    max_size=12,
)


@given(
    st.lists(  # pages
        st.lists(_pdf_token, min_size=1, max_size=12), min_size=1, max_size=4
    )
)
@settings(max_examples=40, deadline=None)
def test_pdf_roundtrip_arbitrary_tokens(pages_tokens):
    """Any unicode tokens (incl. parens/backslashes the PDF string syntax
    must escape) survive write→parse with content, page and order intact."""
    from autoextract.sources.pdf import make_text_pdf, pdf_word_rows

    pages = [
        [(tok, 50.0 + 90.0 * i, 60.0 + 40.0 * i) for i, tok in enumerate(toks)]
        for toks in pages_tokens
    ]
    rows = pdf_word_rows("p", make_text_pdf(pages))
    got = {}
    for r in rows:
        got.setdefault(r["page"], []).append(r["content"])
    assert got == {i + 1: toks for i, toks in enumerate(pages_tokens)}


@given(st.lists(st.integers(0, 50), min_size=8, max_size=60), st.integers(0, 40))
@settings(max_examples=40, deadline=None)
def test_winnowing_shared_run_guarantee(vocab_ids, start):
    """Schleimer/Wilkerson/Aiken guarantee, property-tested: two docs
    sharing a run of >= window+k-1 tokens share >= 1 fingerprint (checked on
    the pure hash/window math, mirroring dedup.winnowing_fingerprints)."""
    import hashlib

    k, w = 3, 4
    run_len = w + k - 1  # 6 tokens shared => guaranteed common fingerprint

    def fingerprints(toks):
        if len(toks) < k:
            shingles = [" ".join(toks)]
        else:
            shingles = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles
        ]
        n_win = max(len(hs) - w + 1, 1)
        return {min(hs[i : i + w]) for i in range(n_win)}

    toks_a = [f"t{v}" for v in vocab_ids]
    start = min(start, len(toks_a) - run_len)
    shared = toks_a[start : start + run_len]
    toks_b = ["x1", "x2"] + shared + ["x3", "x4"]
    assert fingerprints(toks_a) & fingerprints(toks_b)


# ---- r5 codec properties: arbitrary pixel/sample content round-trips ----

rgba_images = st.tuples(
    st.integers(1, 12), st.integers(1, 12), st.sampled_from([3, 4]),
    st.integers(0, 2**32 - 1),
).map(
    lambda t: np.random.RandomState(t[3]).randint(
        0, 256, (t[0], t[1], t[2])
    ).astype(np.uint8)
)


@given(rgba_images, st.booleans(), st.sampled_from([0, 3, 6]))
@settings(max_examples=40, deadline=None)
def test_webp_lossless_roundtrip_property(arr, sub_green, cache_bits):
    """Any uint8 image, any size/channel combo, with/without transforms:
    VP8L must round-trip EXACTLY (it is lossless by contract)."""
    from autoextract.operators import webp_codec as W

    b = W.encode_webp_lossless(
        arr, use_subtract_green=sub_green, cache_bits=cache_bits
    )
    dec = W.decode_webp(b)
    exp = arr if arr.shape[2] == 4 else np.dstack(
        [arr, np.full(arr.shape[:2], 255, np.uint8)]
    )
    assert np.array_equal(dec, exp)


@given(
    st.integers(1, 3000), st.sampled_from([1, 2]),
    st.integers(0, 2**32 - 1), st.booleans(),
)
@settings(max_examples=30, deadline=None)
def test_flac_roundtrip_property(n, n_ch, seed, verbatim):
    """Any sample content (noise, not just tones) round-trips within the
    16-bit quantization bound, for any length incl. sub-block tails."""
    from autoextract.operators import flac_codec as FL

    x = (np.random.RandomState(seed).rand(n, n_ch) - 0.5) * 1.8
    y, sr = FL.decode_flac(
        FL.encode_flac(x, sample_rate=16000, force_verbatim=verbatim)
    )
    assert sr == 16000 and y.shape == x.shape
    assert np.abs(y - x).max() <= 1.5 / (1 << 15)


@given(st.binary(min_size=0, max_size=96), st.sampled_from([16, 24, 32]))
@settings(max_examples=60, deadline=None)
def test_aes_cbc_roundtrip_property(data, klen):
    from autoextract.sources import aes

    key = bytes(range(klen))
    iv = bytes(range(100, 116))
    assert aes.cbc_decrypt(key, iv, aes.cbc_encrypt(key, iv, data)) == data
