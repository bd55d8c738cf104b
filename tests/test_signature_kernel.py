"""Pin the signature kernel's output bytes.

``signature_record_batch`` runs its numpy pipeline over cache-sized doc
chunks. Every output value is per-doc, so neither the chunking nor any
rewrite of the hashing steps may change a byte: the digest below was
computed from the unchunked kernel and must never move unless the
signature semantics change on purpose (then ``cfg_hash`` changes too).
"""

import hashlib

import numpy as np
import pyarrow as pa

import datasketches_rust_spark.operators.signatures as signatures
from datasketches_rust_spark.config import PipelineConfig
from datasketches_rust_spark.corpus.generator import gen_batch

GOLDEN_SHA256 = "e21380e6adcbc82519b11d641a050aea98e36f9ba866dfefe587475ed69dd63d"


def _golden_batch() -> pa.RecordBatch:
    """Generated size_scale-8 files plus the edge cases: an empty doc, a
    NULL content, docs of 1-4 tokens, multi-byte UTF-8 and one doc larger
    than the kernel's chunk size."""
    gen = gen_batch(np.arange(100, 164), seed=7, size_scale=8)["content"].tolist()
    big = "\n".join(gen_batch(np.arange(1000, 1100), seed=7, size_scale=8)["content"])
    assert len(big) > 1 << 20
    texts = (
        gen[:20]
        + ["", None, "one", "one two", "a b c", "a b c d", "héllo wörld 日本語 x_1 = 2 ünï"]
        + gen[20:40]
        + [big]
        + gen[40:]
    )
    sha = [None if t is None else hashlib.sha256(t.encode()).digest() for t in texts]
    return pa.record_batch(
        [pa.array([f"f{i}" for i in range(len(texts))]), pa.array(sha, pa.binary()),
         pa.array(texts, pa.string())],
        names=["file_id", "content_sha", "content"],
    )


def _digest(rb: pa.RecordBatch) -> str:
    h = hashlib.sha256(str(rb.schema).encode())
    for name in rb.schema.names:
        h.update(repr(rb.column(name).to_pylist()).encode())
    return h.hexdigest()


def test_signature_bytes_golden():
    out = signatures.signature_record_batch(_golden_batch(), PipelineConfig())
    assert _digest(out) == GOLDEN_SHA256


def test_signature_chunk_invariance(monkeypatch):
    """One doc per chunk and the whole batch as one chunk give the same
    output as the default chunk size."""
    rb, cfg = _golden_batch(), PipelineConfig()
    want = _digest(signatures.signature_record_batch(rb, cfg))
    for chunk_bytes in (1, float("inf")):
        monkeypatch.setattr(signatures, "_CHUNK_BYTES", chunk_bytes)
        assert _digest(signatures.signature_record_batch(rb, cfg)) == want
