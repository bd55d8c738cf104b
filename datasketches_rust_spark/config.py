"""Pipeline configuration + the seed-compatibility fingerprint.

The reference enforces that set operations only combine sketches built with
the same hash seed, via a 16-bit seed hash carried in every serialized
sketch (``/root/reference/datasketches/src/hash/seed.rs:30-55``; default
update seed 9001 at ``hash/mod.rs:83``). Our analog is ``cfg_hash``: a
64-bit fingerprint of every parameter that affects signature values
(tokenizer version, shingle width, seed, k, banding). It is not stored in
the signature table: the pipeline's resume check guards reuse, because the
signatures stage's checkpoint fingerprint includes ``cfg_hash()``, so a
resumed run with different signature parameters recomputes the stage.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from .sigkit.kmv import MAX_THETA63  # noqa: F401  (re-exported)
from .sigkit.xxhash import xxh64_str_list

DEFAULT_SEED = 9001  # reference DEFAULT_UPDATE_SEED (hash/mod.rs:83)

TOKEN_REGEX = "[A-Za-z0-9_]+"  # tokenizer v1: identifier runs (ASCII)
TOKENIZER_VERSION = "v1"  # names TOKEN_REGEX in cfg_hash; bump when it changes


@dataclass(frozen=True)
class PipelineConfig:
    """Everything that affects signature bytes. Frozen; hash it, don't mutate."""

    seed: int = DEFAULT_SEED
    shingle_width: int = 5
    kmv_k: int = 256  # bottom-k signature size (theta nominal k)
    num_bands: int = 32  # LSH bands b
    band_rows: int = 6  # minhash rows per band r (num_perm = b*r = 192)
    jaccard_threshold: float = 0.8
    # skew handling: LSH buckets larger than this are salted/capped
    max_bucket_size: int = 200
    # the one plan setting (execution only — never in cfg_hash): the
    # pipeline measures the rep-key count once and, at or under this
    # limit, broadcasts the narrow key set into the signature scan (the
    # 2KB kmv/band payload never crosses an exchange) and runs connected
    # components as one union-find task; over it, every key-bound stage
    # takes its shuffle plan. ~100 B/key, so 15M keys ≈ 1.5 GB —
    # comfortable under an 8g driver and Spark's 8 GB broadcast-table cap
    # with room for the collect + block copies. Verify broadcasts two
    # ~100 B side rows per candidate pair, so it also measures the pair
    # count and broadcasts only when twice that is within this limit
    broadcast_key_limit: int = 15_000_000

    @property
    def num_perm(self) -> int:
        return self.num_bands * self.band_rows

    def cfg_hash(self) -> int:
        """Signed-64 fingerprint of the signature-affecting parameters."""
        key = "|".join(
            str(x)
            for x in (
                "dsrs-spark",
                TOKENIZER_VERSION,
                self.seed,
                self.shingle_width,
                self.kmv_k,
                self.num_bands,
                self.band_rows,
            )
        )
        h = int(xxh64_str_list([key], seed=0)[0])
        return h - (1 << 64) if h >= (1 << 63) else h

    def with_(self, **kw) -> "PipelineConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = PipelineConfig()
