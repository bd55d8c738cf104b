"""The Arrow kernel boundary: ``sigkit/arrow_buf`` round trips, the
buffer-form ``jaccard_batch`` against the scalar estimator, the bounded
bitmap OR-reducer, and a layout guard over the package sources."""

import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest

from datasketches_rust_spark.config import MAX_THETA63
from datasketches_rust_spark.operators.verify import jaccard_batch
from datasketches_rust_spark.sigkit.arrow_buf import (
    binary_array,
    bitmap_test,
    list_array,
    list_values,
    or_reduce_bitmap,
    to_buf,
)
from datasketches_rust_spark.sigkit.kmv import jaccard_estimate, kmv_signatures

PKG = pathlib.Path(__file__).resolve().parent.parent / "datasketches_rust_spark"

BLOBS = [b"", b"abc", b"\x00", b"tail\x00\x00", "héllo 日本".encode(), b"", b"z"]


@pytest.mark.parametrize(
    "typ", [pa.binary(), pa.large_binary(), pa.string(), pa.large_string()]
)
@pytest.mark.parametrize("start", [0, 3])
def test_to_buf_round_trip(typ, start):
    """Every var-width layout, sliced or not, reads back value by value —
    trailing 0x00 bytes included — and rebuilds through binary_array."""
    is_str = typ in (pa.string(), pa.large_string())
    arr = pa.array([b.decode() if is_str else b for b in BLOBS], typ).slice(start)
    want = BLOBS[start:]
    buf, offs = to_buf(arr)
    assert offs.dtype == np.int64 and offs[0] == 0 and len(offs) == len(want) + 1
    assert [buf[offs[i]: offs[i + 1]].tobytes() for i in range(len(want))] == want
    assert binary_array(buf, offs).to_pylist() == want


def test_to_buf_nulls_read_empty():
    buf, offs = to_buf(pa.array(["ab", None, "c"]).slice(1))
    assert buf.tobytes() == b"c" and offs.tolist() == [0, 0, 1]


def test_binary_array_fixed_width_and_list_array_dtypes():
    """The union-find output form: S32 keys with elem_offsets = arange(n+1),
    trailing NULs kept; list_array keeps its values' dtype."""
    raw = bytes(range(1, 32)) + b"\x00" + b"\x00" * 32 + b"\xff" * 32
    keys = np.frombuffer(raw, "S32")
    col = binary_array(keys, np.arange(len(keys) + 1))
    assert col.to_pylist() == [raw[i: i + 32] for i in range(0, 96, 32)]
    assert binary_array(keys[1:], np.arange(3)).to_pylist() == [raw[32:64], raw[64:]]

    offs = np.array([0, 2, 2, 3])
    assert list_array(np.array([1.5, 2.5, 3.5]), offs).to_pylist() == [[1.5, 2.5], [], [3.5]]
    ints = list_array(np.array([7, -1, 2**62], dtype=np.int64), offs)
    assert ints.type == pa.list_(pa.int64())
    assert ints.to_pylist() == [[7, -1], [], [2**62]]


def test_list_values_inverts_list_array():
    """list_values reads back what list_array built, across chunks and a
    slice, with a null list as empty and object items typed by ``type``."""
    words = np.array(["a", "bb", "", "ccc"], dtype=object)
    col = list_array(words, np.array([0, 2, 2, 4]), pa.string())
    assert col.type == pa.list_(pa.string())
    with_null = pa.array([["x"], None, ["y", "z"]], pa.list_(pa.string()))
    chunked = pa.chunked_array([col.slice(1), with_null])
    values, offs = list_values(chunked)
    assert values.tolist() == ["", "ccc", "x", "y", "z"]
    assert offs.tolist() == [0, 0, 2, 3, 3, 5]
    empty = list_array(np.empty(0, dtype=object), np.array([0, 0]), pa.binary())
    assert empty.to_pylist() == [[]] and list_values(empty)[1].tolist() == [0, 0]


def _kmv_pairs():
    """(kmv blobs, thetas, per-doc hash arrays) with empty docs, exact-mode
    docs and estimating docs (more distinct hashes than k)."""
    rng = np.random.default_rng(7)
    k = 32
    shared = rng.integers(1, 1 << 63, size=400, dtype=np.uint64)
    docs = [np.empty(0, np.uint64), np.empty(0, np.uint64)]
    for n in (5, 20, 30, 200, 400, 400):  # the last three estimate (n > k)
        own = rng.integers(1, 1 << 63, size=n // 4, dtype=np.uint64)
        docs.append(np.unique(np.concatenate([shared[:n], own])))
    docs.append(docs[4].copy())  # an exact duplicate
    offs = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offs[1:])
    vals, sig_offs, theta, n_distinct = kmv_signatures(np.concatenate(docs), offs, k)
    sigs = [vals[sig_offs[i]: sig_offs[i + 1]] for i in range(len(docs))]
    blobs = [s.astype("<u8").tobytes() for s in sigs]
    assert n_distinct[0] == 0 and (theta < MAX_THETA63).sum() >= 3
    return blobs, theta, sigs


def test_jaccard_batch_matches_scalar_estimator_over_input_forms():
    blobs, theta, sigs = _kmv_pairs()
    n = len(blobs)
    ia, ib = (x.ravel() for x in np.meshgrid(np.arange(n), np.arange(n)))
    want = np.array(
        [jaccard_estimate(sigs[a], int(theta[a]), sigs[b], int(theta[b])) for a, b in zip(ia, ib)]
    )
    # both sides empty → 1; an estimating side paired with an exact one is covered
    assert want[(ia == 0) & (ib == 1)][0] == 1.0
    assert ((theta[ia] < MAX_THETA63) != (theta[ib] < MAX_THETA63)).any()

    ka = [blobs[i] for i in ia]
    kb = [blobs[i] for i in ib]
    pad = [b"\x00" * 8] * 3

    def sliced(xs):
        return pa.array(pad + xs + pad, pa.binary()).slice(3, len(xs))

    forms = {
        "list": (ka, kb),
        "arrow": (pa.array(ka, pa.binary()), pa.array(kb, pa.large_binary())),
        "sliced": (sliced(ka), sliced(kb)),
    }
    for name, (a, b) in forms.items():
        got = jaccard_batch(a, theta[ia], b, theta[ib])
        assert np.array_equal(got, want), name
    assert len(jaccard_batch([], np.empty(0, np.int64), [], np.empty(0, np.int64))) == 0


def test_or_reduce_bitmap_bounded_fan_in(spark):
    """The OR of every batch's positions, with at most
    min(8, defaultParallelism) partial bitmaps (one wave of tasks) reaching
    the driver whatever the input's partition count."""
    num_bits = 1000
    df = spark.range(0, 5000, 1, 40)
    sc = spark.sparkContext
    sc.setJobGroup("or_reduce_bitmap_fan_in", "test")
    try:
        got = or_reduce_bitmap(df, lambda rb: (np.asarray(rb.column(0)) * 7) % num_bits, num_bits)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    want = np.zeros(num_bits, dtype=np.uint8)
    want[(np.arange(5000) * 7) % num_bits] = 1
    assert got == np.packbits(want, bitorder="little").tobytes()

    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("or_reduce_bitmap_fan_in")
    assert jobs
    for job in jobs:
        for stage in tracker.getJobInfo(job).stageIds:
            assert tracker.getStageInfo(stage).numTasks <= min(8, sc.defaultParallelism)


def test_bitmap_test_reads_the_packed_layout():
    """``bitmap_test`` reads ``or_reduce_bitmap``'s layout: bit p at byte
    p >> 3, bit p & 7, for signed and unsigned positions."""
    set_bits = np.array([0, 2, 7, 9, 15, 20])
    want = np.zeros(24, dtype=np.uint8)
    want[set_bits] = 1
    bm = np.packbits(want, bitorder="little")
    for dt in (np.int64, np.uint64):
        got = bitmap_test(bm, np.arange(24, dtype=dt))
        assert got.dtype == bool and (got == want.astype(bool)).all()


def test_kernel_layout_guard():
    """One kernel style and one buffer module: no pandas kernel
    (``mapInPandas``, ``applyInPandas``, ``pandas_udf``), no pandas
    import and no ``toPandas`` under functions/, operators/ or plans/, only
    sigkit/arrow_buf.py touches ``pa.Array.buffers()``, and no module under
    functions/ imports sigkit.xxhash: Spark-compatible placement comes from
    the JVM ``xxhash64`` expression, never from a numpy copy of it."""
    banned = ("mapInPandas", "applyInPandas", "pandas_udf", "import pandas", "toPandas(")
    for sub in ("functions", "operators", "plans"):
        for path in (PKG / sub).glob("*.py"):
            text = path.read_text()
            assert not [b for b in banned if b in text], path
    xxhash_import = re.compile(r"sigkit\.xxhash|sigkit import[^\n]*\bxxhash\b")
    for path in (PKG / "functions").glob("*.py"):
        assert not xxhash_import.search(path.read_text()), path
    readers = {
        path.relative_to(PKG).as_posix()
        for path in PKG.rglob("*.py")
        if ".buffers()" in path.read_text()
    }
    assert readers == {"sigkit/arrow_buf.py"}
