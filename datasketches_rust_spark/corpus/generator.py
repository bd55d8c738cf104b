"""Deterministic synthetic source-code corpus with embedded dup ground truth.

Implements FIXTURES.md §F1: an Iceberg-shaped table
``(repo, path, commit, lang, content)`` whose rows are pure functions of
``(seed, file_id)`` — no wall clock, no global RNG — so generation is
embarrassingly parallel: at scale the corpus is produced by
``spark.range(n).mapInPandas(...)`` with identical bytes regardless of
partitioning.

Duplicate classes are injected by id arithmetic within blocks of 20 ids
(the class-0..11 member is an independent base file; other members derive
from the block's base):

| id % 20 | class       | construction                                   |
|---------|-------------|------------------------------------------------|
| 0-11    | base        | independent synthetic source file              |
| 12,13   | exact       | byte-identical copy of the block base          |
| 14,15   | near_high   | 0.2-1% of tokens edited (true J >= ~0.9)       |
| 16      | near_border | 3-10% of tokens edited (J straddles threshold) |
| 17      | contained   | block base embedded verbatim in a larger file  |
| 18,19   | boilerplate | shared license header + unrelated body         |

Additionally ids 1..MEGA_FAMILY_SIZE_DEFAULT-1 are exact copies of id 0
(one mega duplicate family) to stress LSH bucket skew handling.

The per-row invariant (BASELINE.json input_hint) is
``sha256(content)``: :func:`content_sha_pandas` records it at generation
time; the pipeline recomputes it with ``F.sha2(content, 256)`` and tests
assert equality row by row.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = [
    ("python", "py"),
    ("java", "java"),
    ("c", "c"),
    ("cpp", "cc"),
    ("go", "go"),
    ("rust", "rs"),
    ("js", "js"),
]
# skewed lang distribution (FIXTURES F1)
_LANG_WEIGHTS = np.array([0.30, 0.20, 0.12, 0.12, 0.10, 0.08, 0.08])

_KEYWORDS = "if else for while return break continue let var const fn def func void int float str bool".split()

LICENSE_HEADER = "\n".join(
    f"// boilerplate license line {i}: permission is hereby granted free of charge "
    f"to any person obtaining a copy of this software clause {i}"
    for i in range(20)
)

MEGA_FAMILY_SIZE_DEFAULT = 64

_GOLD = 0x9E3779B97F4A7C15


def _rng_for(seed: int, file_id: int, stream: int = 0) -> np.random.Generator:
    key = ((seed + 1) * _GOLD + file_id * 0x2545F4914F6CDD1D + stream) % (1 << 63)
    return np.random.default_rng(key)


def _ident_pool(rng: np.random.Generator, n: int, tag: int) -> list[str]:
    nums = rng.integers(0, 1 << 30, size=n)
    return [f"v{tag % 997}_{int(x):x}" for x in nums]


def _base_content(seed: int, file_id: int, size_scale: int = 1) -> str:
    """Independent synthetic source file; length ~ log-normal.

    ``size_scale`` multiplies line counts (bench corpora use ~6 to match
    realistic source-file sizes of several KB; tests use 1)."""
    rng = _rng_for(seed, file_id, stream=1)
    n_lines = int(np.clip(rng.lognormal(3.3, 0.7) * size_scale, 8, 600 * size_scale))
    pool = _ident_pool(rng, max(12, n_lines // 2), file_id)
    kw = rng.choice(_KEYWORDS, size=n_lines).tolist()
    a = rng.integers(0, len(pool), size=n_lines)
    b = rng.integers(0, len(pool), size=n_lines)
    c = rng.integers(0, 1 << 16, size=n_lines)
    lines = [
        f"{kw[i]} {pool[a[i]]} = {pool[b[i]]} ({int(c[i])}) ;"
        for i in range(n_lines)
    ]
    return "\n".join(lines)


def _edit_tokens(content: str, frac: float, rng: np.random.Generator) -> str:
    """Replace ~frac of whitespace-delimited tokens with fresh identifiers."""
    toks = content.split(" ")
    n_edit = max(1, int(len(toks) * frac))
    idx = rng.choice(len(toks), size=min(n_edit, len(toks)), replace=False)
    repl = rng.integers(0, 1 << 30, size=len(idx))
    for j, i in enumerate(idx):
        toks[i] = f"e{int(repl[j]):x}"
    return " ".join(toks)


def file_class(file_id: int) -> str:
    if 0 < file_id < MEGA_FAMILY_SIZE_DEFAULT:
        return "exact"
    m = file_id % 20
    if m <= 11:
        return "base"
    if m in (12, 13):
        return "exact"
    if m in (14, 15):
        return "near_high"
    if m == 16:
        return "near_border"
    if m == 17:
        return "contained"
    return "boilerplate"


def family_id(file_id: int) -> int:
    """Root id of the duplicate family this file derives from."""
    if file_id < MEGA_FAMILY_SIZE_DEFAULT:
        return 0
    m = file_id % 20
    if m <= 11 or m >= 18:
        return file_id  # base and boilerplate files are their own family
    return file_id - m  # block's class-0 member


def content_for(seed: int, file_id: int, size_scale: int = 1) -> str:
    klass = file_class(file_id)
    fam = family_id(file_id)
    if klass == "base":
        return _base_content(seed, file_id, size_scale)
    if klass == "exact":
        return _base_content(seed, fam, size_scale)
    rng = _rng_for(seed, file_id, stream=2)
    if klass == "near_high":
        return _edit_tokens(
            _base_content(seed, fam, size_scale), float(rng.uniform(0.002, 0.01)), rng
        )
    if klass == "near_border":
        return _edit_tokens(
            _base_content(seed, fam, size_scale), float(rng.uniform(0.03, 0.10)), rng
        )
    if klass == "contained":
        pre = _base_content(seed, file_id, size_scale)  # independent wrapper body
        return (
            pre + "\n" + _base_content(seed, fam, size_scale) + "\n" + _edit_tokens(pre, 0.9, rng)
        )
    # boilerplate: shared header + unrelated body (body >= header so J stays low)
    body = _base_content(seed, file_id, size_scale)
    while len(body.split()) < 250:
        body = body + "\n" + _base_content(seed, file_id + (1 << 40), size_scale)
    return LICENSE_HEADER + "\n" + body


def gen_batch(ids: np.ndarray, seed: int, size_scale: int = 1) -> pd.DataFrame:
    """Corpus rows for a batch of file ids (pure function of (seed, id))."""
    rows = []
    for fid in ids:
        fid = int(fid)
        rng = _rng_for(seed, fid, stream=3)
        lang, ext = LANGS[int(rng.choice(len(LANGS), p=_LANG_WEIGHTS))]
        org = int(rng.integers(0, 97))
        repo = f"org{org}/repo{int(rng.integers(0, 53))}"
        path = f"src/m{int(rng.integers(0, 31))}/f{fid}.{ext}"
        commit = bytes(rng.integers(0, 256, size=20, dtype=np.uint8)).hex()
        rows.append((repo, path, commit, lang, content_for(seed, fid, size_scale), fid))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content", "file_seq"])


def content_sha_pandas(content: pd.Series) -> pd.Series:
    """Generation-time record of the per-row invariant sha256(content)."""
    return content.map(lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest())


def corpus_spark(spark, n_files: int, seed: int = 42, partitions: int | None = None,
                 size_scale: int = 1):
    """Distributed deterministic corpus as a Spark DataFrame.

    ``file_seq`` (the generator id) is kept so tests can join ground truth;
    the pipeline itself never uses it.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("repo", StringType()),
            StructField("path", StringType()),
            StructField("commit", StringType()),
            StructField("lang", StringType()),
            StructField("content", StringType()),
            StructField("file_seq", LongType()),
        ]
    )

    parts = partitions or max(8, n_files // 5000)

    def gen(iterator):
        for pdf in iterator:
            yield gen_batch(pdf["id"].to_numpy(), seed, size_scale)

    return spark.range(0, n_files, numPartitions=parts).mapInPandas(gen, schema=schema)


def truth_families(n_files: int) -> pd.DataFrame:
    """(file_seq, family, klass) for every generated id — ground truth."""
    ids = np.arange(n_files)
    fams = np.array([family_id(int(i)) for i in ids])
    klass = np.array([file_class(int(i)) for i in ids])
    return pd.DataFrame({"file_seq": ids, "family": fams, "klass": klass})


def truth_pairs(seed: int, n_files: int) -> pd.DataFrame:
    """All intra-family pairs with exact token-shingle Jaccard (brute force).

    Pairs between families have J << 0.5 by construction (spot-checked in
    tests); within a family every unordered pair is listed with its true
    Jaccard over distinct shingle hashes at the pipeline's default shingle
    width and seed — the oracle for recall.
    """
    from ..config import PipelineConfig
    from ..sigkit.kmv import MAX_THETA63, jaccard_estimate
    from ..sigkit.tokenize import shingle_hashes

    cfg = PipelineConfig()
    fams = truth_families(n_files)
    out = []
    for fam, grp in fams.groupby("family"):
        ids = grp["file_seq"].to_numpy()
        if len(ids) < 2:
            continue
        texts = [content_for(seed, int(i)) for i in ids]
        vals, offs = shingle_hashes(texts, cfg.shingle_width, cfg.seed)
        sets = [vals[offs[i]: offs[i + 1]] for i in range(len(ids))]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                jac = jaccard_estimate(sets[i], MAX_THETA63, sets[j], MAX_THETA63)
                out.append((int(ids[i]), int(ids[j]), float(jac)))
    return pd.DataFrame(out, columns=["seq_a", "seq_b", "true_jaccard"])
