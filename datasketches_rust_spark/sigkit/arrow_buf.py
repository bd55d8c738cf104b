"""The Arrow buffer layout, in one place.

Kernels cross the Spark↔Python boundary through ``mapInArrow`` (the
sketch aggregates' merges through ``applyInArrow``), and this module is
the only code that reads or builds Arrow buffers by hand. Kernels see a
variable-width column as the flat layout the sigkit kernels take — one
``uint8`` byte buffer plus ``(n+1,)`` int64 offsets — and hand their
numpy results back as Arrow columns without a per-row Python object.

Spark-free: nothing here imports pyspark, so kernels and tests call it
directly. ``or_reduce_bitmap`` is the one function that drives a plan,
and it only calls the ``mapInArrow``/``coalesce``/``collect`` methods of
the DataFrame it is given; the packed bitmap it writes has one reader,
``bitmap_test``.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

_OFFSET_DTYPES = {
    pa.string(): np.int32,
    pa.binary(): np.int32,
    pa.large_string(): np.int64,
    pa.large_binary(): np.int64,
}


def to_buf(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 bytes, (n+1,) int64 offsets from 0) of a string or binary
    column; value i is ``buf[offs[i]:offs[i+1]]``.

    Takes string, binary and their ``large_*`` forms, sliced arrays
    (nonzero ``arr.offset``) included. The bytes are a zero-copy view of
    the Arrow data buffer; only the offsets are copied (rebased to 0 and
    widened to int64). A null reads as an empty value.
    """
    off_dtype = _OFFSET_DTYPES[arr.type]
    if arr.null_count:
        empty = "" if arr.type in (pa.string(), pa.large_string()) else b""
        arr = arr.fill_null(pa.scalar(empty, arr.type))
    _, off_buf, data_buf = arr.buffers()
    width = np.dtype(off_dtype).itemsize
    offs = np.frombuffer(off_buf, off_dtype, len(arr) + 1, arr.offset * width)
    lo, hi = int(offs[0]), int(offs[-1])
    data = (
        np.frombuffer(data_buf, np.uint8, hi - lo, lo)
        if hi > lo
        else np.empty(0, dtype=np.uint8)
    )
    return data, offs.astype(np.int64) - lo


def doc_chunks(
    buf: np.ndarray, offs: np.ndarray, max_bytes: float
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Cut a ``to_buf`` column into consecutive runs of values holding at
    most ``max_bytes`` bytes, with at least one value per run (so a longer
    value is a run of its own); yield each run as its own (bytes, offsets
    from 0). An empty column yields one empty run.

    Kernels that make several full-size temporaries per input byte run on
    these runs so the temporaries stay cache-resident whatever the Arrow
    batch size; results are per-value, so they concatenate unchanged.
    """
    n, lo = len(offs) - 1, 0
    while True:
        hi = int(np.searchsorted(offs, offs[lo] + max_bytes, side="right")) - 1
        hi = min(max(hi, lo + 1), n)
        yield buf[offs[lo] : offs[hi]], offs[lo : hi + 1] - offs[lo]
        if hi >= n:
            return
        lo = hi


def binary_array(values: np.ndarray, elem_offsets: np.ndarray) -> pa.BinaryArray:
    """Binary column whose value i is the bytes of
    ``values[elem_offsets[i]:elem_offsets[i+1]]``, built zero-copy over
    ``values``' memory (any fixed-size dtype: ``<u8`` kmv hashes, ``S32``
    content_shas with ``elem_offsets = arange(n+1)``)."""
    values = np.ascontiguousarray(values)
    byte_offs = (np.asarray(elem_offsets) * values.dtype.itemsize).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(byte_offs) - 1, [None, pa.py_buffer(byte_offs), pa.py_buffer(values)]
    )


def list_array(
    values: np.ndarray, offsets: np.ndarray, type: pa.DataType | None = None
) -> pa.ListArray:
    """List column whose element i is ``values[offsets[i]:offsets[i+1]]``;
    the item type is ``type``, or follows ``values``' dtype when omitted
    (pass it for object arrays, whose inferred type depends on the data)."""
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values, type))


def list_values(arr: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(values, (n+1,) int64 offsets from 0) of a list column, the inverse
    of ``list_array``: element i is ``values[offs[i]:offs[i+1]]``. A null
    list reads as empty; string and binary items come back as objects."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(arr.value_lengths().fill_null(0).to_numpy(), out=offs[1:])
    return arr.flatten().to_numpy(zero_copy_only=False), offs


def or_reduce_bitmap(
    df, positions: Callable[[pa.RecordBatch], np.ndarray], num_bits: int
) -> bytes:
    """OR of the bits ``positions(rb)`` sets for every Arrow batch ``rb`` of
    ``df``: a packed little-endian bitmap of ``num_bits`` bits.

    Each task ORs its batches into one partial bitmap; a narrow coalesce
    to ``min(8, defaultParallelism)`` bounds the tasks to one wave, so the
    driver collects at most 8 partials whatever ``df``'s partition count.
    The coalesce propagates down to ``df``'s last exchange — a caller
    whose input is a scan puts its own exchange above it first, or the
    scan runs in that many tasks.
    """
    nbytes = (num_bits + 7) // 8

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bm = np.zeros(nbytes, dtype=np.uint8)
        for rb in batches:
            if rb.num_rows:
                p = positions(rb).astype(np.int64)
                # scatter target is the (cache-resident) packed bitmap
                np.bitwise_or.at(bm, p >> 3, np.left_shift(1, p & 7).astype(np.uint8))
        yield pa.RecordBatch.from_arrays([pa.array([bm.tobytes()], pa.binary())], ["bm"])

    out = np.zeros(nbytes, dtype=np.uint8)
    fan_in = min(8, df.sparkSession.sparkContext.defaultParallelism)
    for row in df.coalesce(fan_in).mapInArrow(partials, "bm binary").collect():
        out |= np.frombuffer(row["bm"], dtype=np.uint8)
    return out.tobytes()


def bitmap_test(bitmap: np.ndarray, positions: np.ndarray) -> np.ndarray:
    """Whether each bit position is set in a packed ``uint8`` bitmap of
    ``or_reduce_bitmap``'s layout (bit p at byte p >> 3, bit p & 7)."""
    p = positions.astype(np.int64)
    return (bitmap[p >> 3] >> (p & 7).astype(np.uint8)) & 1 > 0
