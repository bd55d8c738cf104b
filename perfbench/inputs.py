"""Benchmark inputs: seeded dedup corpora, cached inside the benchmark's
work directory, and the fixed query tables.

* Dedup corpora come from the package's own generator (``corpus_spark``)
  and are cached by (generator seed, file count, size scale, hash of
  ``corpus/generator.py``), so a generator change can never reuse a stale
  corpus.
* The sketch-query tables (documents, lineitem, orders, events,
  embeddings) are the sf0.01 test tables, kept in ``perfbench/tables``.
* Truth for the dedup recall check is recomputed from ``content_for`` with
  the corpus's ``size_scale``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "datasketches_rust_spark")
WORK = os.path.join(REPO, "perfbench", ".work")
GENERATOR_PY = os.path.join(PKG, "corpus", "generator.py")

# every seed maps onto one of these input variants; each variant's outputs
# are pinned in pins.json
N_VARIANTS = 4
# pipeline hash seed (PipelineConfig.seed) and shingle width, for truth
HASH_SEED = 9001
SHINGLE_WIDTH = 5


def variant(seed: int) -> int:
    return seed % N_VARIANTS


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def corpus_path(gen_seed: int, n_files: int, size_scale: int) -> str:
    key = f"corpus_s{gen_seed}_n{n_files}_x{size_scale}_{_file_digest(GENERATOR_PY)}"
    return os.path.join(WORK, "inputs", key)


def ensure_corpus(spark, gen_seed: int, n_files: int, size_scale: int) -> str:
    """Generate the corpus parquet once per cache key; return its path."""
    from datasketches_rust_spark.corpus.generator import corpus_spark

    path = corpus_path(gen_seed, n_files, size_scale)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        corpus_spark(
            spark, n_files, seed=gen_seed, partitions=8, size_scale=size_scale
        ).drop("file_seq").write.mode("overwrite").parquet(path)
    return path


def file_id_of(repo: str, path: str, commit: str) -> str:
    """The pipeline's file_id: sha2(concat_ws('\\0', repo, path, commit))."""
    return hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()


def dedup_truth(gen_seed: int, n_files: int, size_scale: int, n_blocks: int = 40):
    """Exact-Jaccard truth pairs (file_id_a, file_id_b) at J >= 0.8 over a
    fixed sample of generator families (blocks of 20 ids past the mega
    family; members 12-17 of a block derive from its base)."""
    from datasketches_rust_spark.corpus.generator import MEGA_FAMILY_SIZE_DEFAULT, gen_batch
    from datasketches_rust_spark.sigkit.kmv import MAX_THETA63, jaccard_estimate
    from datasketches_rust_spark.sigkit.tokenize import shingle_hashes

    first = MEGA_FAMILY_SIZE_DEFAULT // 20 + 1
    blocks = np.linspace(first, n_files // 20 - 1, n_blocks).astype(np.int64)
    pairs = []
    for b in np.unique(blocks):
        ids = [int(b) * 20 + m for m in (0, 12, 13, 14, 15, 16, 17)]
        rows = gen_batch(np.array(ids), gen_seed, size_scale=size_scale)
        fids = [file_id_of(r.repo, r.path, r.commit) for r in rows.itertuples()]
        vals, offs = shingle_hashes(rows["content"].tolist(), SHINGLE_WIDTH, HASH_SEED)
        sets = [vals[offs[i]: offs[i + 1]] for i in range(len(ids))]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                jac = jaccard_estimate(sets[i], MAX_THETA63, sets[j], MAX_THETA63)
                if float(jac) >= 0.8:
                    pairs.append((fids[i], fids[j]))
    return pairs


# ------------------------------------------------------------ query tables

# the sf0.01 tables the headline queries read, copied into the benchmark
TABLES_DIR = os.path.join(REPO, "perfbench", "tables")
TABLES = ("documents", "lineitem", "orders", "events", "embeddings")


def doc_file_ids(tables_dir: str) -> dict[str, int]:
    """file_id → doc_id for the documents table as the dedup queries key it
    (source / doc_id / 'head' as repo / path / commit)."""
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"),
                         columns=["doc_id", "source"]).to_pylist()
    return {file_id_of(d["source"], str(d["doc_id"]), "head"): d["doc_id"] for d in docs}


# ------------------------------------------------------------ output checks

def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def rows_fingerprint(rows: list[dict]) -> str:
    """Order-insensitive hash of result rows (floats rounded to 6 places)."""
    lines = sorted(repr(tuple(_canon(v) for v in r.values())) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def same_component_recall(truth_pairs, pairs) -> float:
    """Share of truth pairs whose ends are connected by ``pairs``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    if not truth_pairs:
        return 1.0
    return sum(find(a) == find(b) for a, b in truth_pairs) / len(truth_pairs)
