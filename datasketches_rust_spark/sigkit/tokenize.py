"""Vectorized tokenizer + shingle hasher.

Turns a batch of documents into per-document sets of 63-bit shingle hashes
with **no per-row Python**: all docs in a batch are concatenated into one
byte buffer; token boundaries, token hashes, w-gram shingle hashes and
per-doc distinct sets are computed with numpy array ops whose Python-level
loops run over *byte-length buckets*, never over tokens; the one per-doc
loop sorts each doc's (cache-resident) shingle slice in place.

Semantics mirror the reference's update path
(`/root/reference/datasketches/src/thetafamily/theta/sketch.rs:128-130` →
`common/hash_table.rs:135-140`): every item (here: a token w-gram) is hashed
with a seeded 64-bit hash and kept as ``hash >> 1`` (63-bit, Java-compatible
sign-safe form); hash value 0 is screened out (``hash_table.rs:160-163``).

Tokenizer v1: maximal runs of ``[A-Za-z0-9_]`` bytes (ASCII identifier
runs; multi-byte UTF-8 codepoints act as separators, which agrees with the
regex ``[A-Za-z0-9_]+`` on codepoints).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .arrow_buf import to_buf
from .xxhash import xxh64_slices, xxh64_u64

# byte classes for tokenizer v1
_TOKEN_BYTE = np.zeros(256, dtype=bool)
for _lo, _hi in ((48, 58), (65, 91), (97, 123)):  # 0-9 A-Z a-z
    _TOKEN_BYTE[_lo:_hi] = True
_TOKEN_BYTE[95] = True  # _
_TOKEN_BYTE_I8 = _TOKEN_BYTE.astype(np.int8)  # 0/1 form for the diff pass


def concat_docs(texts) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate docs into a flat buffer (the Arrow string layout).

    Returns (flat uint8 buffer, (n+1,) int64 doc offsets from 0 into it).
    """
    return to_buf(pa.array(texts, pa.string()))


def token_spans(
    buf: np.ndarray, doc_offsets: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lengths) of maximal token-byte runs in a flat buffer.

    When ``doc_offsets`` is given (documents packed back-to-back, Arrow
    layout), runs straddling a document boundary are split at it — the
    Python loop runs over *boundary-crossing spans* only (≤ n_docs per
    batch), never over tokens.
    """
    if len(buf) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    # The class array comes from SIMD compares (case-folded a-z, digits,
    # underscore), measured ~1.6× faster than the 256-entry table gather;
    # each range is one unsigned wraparound compare, x - lo < width.
    # A run boundary is a byte whose class differs from the byte before it
    # (the buffer is padded with non-token bytes at both ends), so the
    # boundaries alternate start, end, start, … and ONE bool nonzero pass
    # yields both: starts at the even positions, exclusive ends at the odd
    # ones. Together: 17.5 → 11.9 ms per 4.7 MB batch against a signed diff
    # with a nonzero pass per sign and two-sided range compares.
    scratch = buf | np.uint8(0x20)
    scratch -= np.uint8(97)
    mask = scratch < 26
    np.subtract(buf, np.uint8(48), out=scratch)
    mask |= scratch < 10
    mask |= buf == 95
    edge = np.empty(len(mask) + 1, dtype=bool)
    edge[0], edge[-1] = mask[0], mask[-1]
    np.not_equal(mask[1:], mask[:-1], out=edge[1:-1])
    bounds = np.flatnonzero(edge)
    starts, ends = bounds[0::2], bounds[1::2]

    if doc_offsets is not None and len(starts):
        inner = doc_offsets[1:-1]
        # a span (s, e) crossing boundary b (s < b < e) splits into (s,b),(b,e)
        span_of_b = np.searchsorted(starts, inner, side="right") - 1
        crossing = (span_of_b >= 0) & (inner > starts[np.maximum(span_of_b, 0)]) & (
            inner < ends[np.maximum(span_of_b, 0)]
        )
        if crossing.any():
            # dedupe (span, cut) — empty docs repeat the same boundary;
            # np.unique leaves pairs sorted by (span, ascending cut)
            pairs = np.unique(
                np.stack([span_of_b[crossing], inner[crossing]], axis=1), axis=0
            )
            spv, cutv = pairs[:, 0], pairs[:, 1]
            # piece for cut j runs to the next cut in the same span, else to
            # the span's old end; the owning span is truncated at its FIRST
            # cut — all vectorized, then one in-order np.insert pass (the
            # previous per-cut loop + full argsort cost ~0.5 s per 40 MB
            # batch for a handful of crossings)
            piece_ends = np.empty(len(spv), dtype=np.int64)
            if len(spv) > 1:
                piece_ends[:-1] = np.where(spv[:-1] == spv[1:], cutv[1:], ends[spv[:-1]])
            piece_ends[-1] = ends[spv[-1]]
            first = np.ones(len(spv), dtype=bool)
            first[1:] = spv[1:] != spv[:-1]
            ends = ends.copy()
            ends[spv[first]] = cutv[first]
            starts = np.insert(starts, spv + 1, cutv)
            ends = np.insert(ends, spv + 1, piece_ends)

    return starts, ends - starts


def token_hash_stream_buf(
    buf: np.ndarray, doc_offsets: np.ndarray, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Token hashes for docs packed in one buffer (zero-copy Arrow path).

    Returns (token_hashes uint64, (n_docs+1,) int64 token offsets): doc i's
    tokens are ``hashes[tok_off[i]:tok_off[i+1]]`` in document order.
    """
    starts, lengths = token_spans(buf, doc_offsets)
    hashes = xxh64_slices(buf, starts, lengths, seed)
    # spans never straddle a doc boundary, so doc i's first token is the
    # first start >= doc_offsets[i] — O(n_docs log n_tokens), not a
    # per-token searchsorted
    tok_off = np.searchsorted(starts, doc_offsets).astype(np.int64)
    return hashes, tok_off


def shingle_hashes_buf(
    buf: np.ndarray, doc_offsets: np.ndarray, width: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct, sorted 63-bit w-gram shingle hashes per document.

    Zero-copy core: ``buf``/``doc_offsets`` is the Arrow string-column
    layout. Returns (values uint64 in [1, 2^63), (n_docs+1,) int64 offsets).
    A doc with 0 < n_tokens < width contributes one shingle over its whole
    token sequence; a doc with no tokens contributes none.
    """
    tok_hashes, tok_off = token_hash_stream_buf(buf, doc_offsets, seed)
    n_tok = np.diff(tok_off)

    # w-gram shingle hash: polynomial fold of the w token hashes finished
    # with the XXH64 8-byte avalanche (hash_u64 fast path, xxhash.rs:108-117)
    # — contiguous-slice passes only, no sliding-window gather.
    _B = np.uint64(0x9E3779B185EBCA87)  # odd → bijective per step

    def _shingle_hash(cols) -> np.ndarray:
        acc = cols[0].copy()
        for col in cols[1:]:
            acc *= _B
            acc += col
        return xxh64_u64(acc, seed)

    # the layout is known from the token counts alone: a doc has
    # n_tok - w + 1 windows, or one whole-sequence shingle when
    # 0 < n_tok < w, so one cumsum places every doc's shingles
    long_doc = n_tok >= width
    n_shingles = np.where(long_doc, n_tok - width + 1, n_tok > 0)
    offsets = np.zeros(len(n_tok) + 1, dtype=np.int64)
    np.cumsum(n_shingles, out=offsets[1:])
    vals = np.empty(int(offsets[-1]), dtype=np.uint64)

    # full-width shingles: fold every window of the token stream, copy each
    # doc's in-doc windows to its slice and sort the slice in place (per-doc
    # slices are cache-resident, unlike a global sort)
    if long_doc.any():
        n_win = len(tok_hashes) - width + 1
        windows = _shingle_hash([tok_hashes[j : j + n_win] for j in range(width)])
        los, his = offsets[:-1][long_doc].tolist(), offsets[1:][long_doc].tolist()
        for lo, hi, t in zip(los, his, tok_off[:-1][long_doc].tolist()):
            seg = vals[lo:hi]
            seg[:] = windows[t : t + hi - lo]
            seg.sort()

    # short docs: one shingle over the full token-hash sequence
    short = np.nonzero(~long_doc & (n_tok > 0))[0]
    for w in np.unique(n_tok[short]).tolist():
        sel = short[n_tok[short] == w]
        gathered = tok_hashes[tok_off[sel][:, None] + np.arange(w)]
        vals[offsets[sel]] = _shingle_hash(gathered.T)

    vals >>= np.uint64(1)  # 63-bit form; monotone, so the slices stay sorted
    return sorted_distinct(vals, offsets)


def sorted_distinct(vals: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct nonzero values per doc of a layout whose doc slices
    ``vals[offsets[i]:offsets[i+1]]`` are each sorted ascending.

    One global mask keeps a value unless it repeats its predecessor in the
    same doc; the offsets are recounted from it. Zero is screened out
    (hash_table.rs:160-163): sorted first, it can only open a doc's slice,
    so the mask tests it at each doc's first value alone.
    """
    keep = np.empty(len(vals), dtype=bool)
    np.not_equal(vals[1:], vals[:-1], out=keep[1:])
    firsts = offsets[:-1][np.diff(offsets) > 0]
    keep[firsts] = vals[firsts] != 0
    kept = np.flatnonzero(keep)
    # a doc's new offset is the number of kept values before its old one
    return vals[kept], np.searchsorted(kept, offsets)


def shingle_hashes(texts, width: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """List-of-strings wrapper around :func:`shingle_hashes_buf`."""
    buf, doc_offsets = concat_docs(texts)
    return shingle_hashes_buf(buf, doc_offsets, width, seed)
