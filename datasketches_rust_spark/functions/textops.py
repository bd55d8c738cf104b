"""Text analysis + exact n-gram dedup.

The text operators are JVM DataFrame expressions inside whole-stage
codegen: tokenization is ``regexp_extract_all`` (``[A-Za-z0-9_]+`` runs),
and the counts, ratios and heavy hitters are array folds and group-counts
over those tokens, with no Python UDFs.

The exact n-gram Jaccard takes each doc's shingle set from the signature
kernel itself (``operators/signatures.shingle_chunks``, one
``mapInArrow``), so the exact verifier and the sketch pipeline share one
definition of a shingle: docs with 0 < n_tokens < width contribute one
whole-sequence shingle, docs with no tokens none. Prefix filtering and
the per-pair intersection are JVM joins and array expressions.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

from ..config import TOKEN_REGEX, PipelineConfig
from ..operators.signatures import shingle_chunks
from ..sigkit.arrow_buf import list_array

EN_STOPWORDS = (
    "the of and to in a is that it for on with as are was at by an be this "
    "from or which you not have has had but they his her its were been"
).split()


def tokens(col) -> Column:
    return F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0)


def _shingle_hash_arrays(docs: DataFrame, id_col: str, text_col: str, width: int) -> DataFrame:
    """(__id, __hs) — one row per doc: its sorted, distinct 63-bit shingle
    hashes from the signature kernel (default seed, 1 MiB doc chunks).

    The hashes are below 2^63, so their int64 view keeps the one global
    order the prefix filter needs; they never leave this operator. A NULL
    text reads as empty. The kernel is the expensive part of the whole
    operator, so a narrow scan (one small parquet file = one partition) is
    fanned out first or it runs single-task (guide §2.5); no-op whenever
    the scan already plans enough splits.
    """
    from ..plans.parallel import fan_out_small_scan

    cfg = PipelineConfig(shingle_width=width)
    base = fan_out_small_scan(docs.select(F.col(id_col).alias("__id"), F.col(text_col)))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            vals, offs = zip(*shingle_chunks(rb.column(1), cfg))
            counts = np.concatenate([np.diff(o) for o in offs])
            doc_offs = np.zeros(rb.num_rows + 1, dtype=np.int64)
            np.cumsum(counts, out=doc_offs[1:])
            hs = list_array(np.concatenate(vals).view(np.int64), doc_offs)
            yield pa.RecordBatch.from_arrays([rb.column(0), hs], ["__id", "__hs"])

    return base.mapInArrow(
        run, base.select("__id").schema.add("__hs", ArrayType(LongType()))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-w-gram Jaccard dedup: all pairs with J >= threshold.

    EXACT (no LSH, no false negatives) — the verification counterpart of
    the sketch pipeline and the DuckDB-oracle-matched operator. The plan
    uses classic prefix filtering (Chaudhuri/Bayardo): under a global
    order (the shingle hash), two sets with J >= t must share an element
    within their floor((1-t)|A|)+1 smallest elements — proof: the
    smallest common element x of A∩B has rank <= |A\\B|+1 <= (1-t)|A|+1 in
    A, likewise in B. So the self-join runs on ~(1-t) of the shingles, a
    length filter (t*na <= nb <= na/t) prunes further, and the full
    intersection is computed only for surviving candidate pairs — as a
    per-pair JVM ``array_intersect`` over the two sorted hash-set arrays.

    The prefix length is computed integer-exactly as ``n - ceil(t*n) + 1``
    (== floor((1-t)n) + 1) with a 1e-9 guard inside the ceil so float error
    can only ENLARGE the prefix: the naive ``floor((1-t)*n)`` form loses one
    element whenever (1-t)*n is an exact integer (1-0.8 = 0.19999... in
    binary), silently dropping pairs at J == threshold. Prefix extraction is
    a per-row JVM ``slice`` over the doc's sorted hash array — map-side, in
    the same stage as the scan; no window, no extra exchange.
    """
    # the per-doc hash arrays feed both the prefix join and the scoring
    # joins: cut lineage so the kernel runs once
    arr = _shingle_hash_arrays(docs, id_col, text_col, width).localCheckpoint(eager=False)
    n = F.size("__hs")
    plen = (n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)) + F.lit(1)).cast("int")
    pref = arr.select(
        "__id", n.alias("n"), F.explode(F.slice("__hs", F.lit(1), plen)).alias("__shh")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__shh") == F.col("b.__shh"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n")),
        )
        .select(F.col("a.__id").alias("ia"), F.col("b.__id").alias("ib"))
        .distinct()
    )
    # candidates are a tiny fraction of the corpus after prefix+length
    # filtering, so the full intersection is cheapest as a per-pair JVM
    # array_intersect over the two sorted hash-set arrays — no explode
    # of the whole corpus, no count groupBy, no sizes joins
    ha = arr.select(F.col("__id").alias("ia"), F.col("__hs").alias("__ha"))
    hb = arr.select(F.col("__id").alias("ib"), F.col("__hs").alias("__hb"))
    scored = (
        cand.join(ha, "ia")
        .join(hb, "ib")
        .select(
            "ia",
            "ib",
            F.size("__ha").alias("na"),
            F.size("__hb").alias("nb"),
            F.size(F.array_intersect("__ha", "__hb")).alias("inter"),
        )
    )
    return scored.select(
        F.col("ia").alias(f"{id_col}_a"),
        F.col("ib").alias(f"{id_col}_b"),
        F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def exact_dedup_map(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Every doc mapped to the min-id representative of identical text.

    Partitions the window by sha2(text) projected *before* the exchange, so
    the shuffle carries (id, 32-byte digest) rows — never the document
    content itself. Identical output to windowing over raw text.
    """
    d = docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("__sha"))
    w = Window.partitionBy("__sha")
    return d.select(F.col(id_col), F.min(id_col).over(w).alias("rep_id"))


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token counting: total, distinct, chars."""
    tok = tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_distinct_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def quality_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality-scoring features: alpha ratio, stopword ratio, token length."""
    tok = tokens(F.col(text_col))
    stop_arr = F.array([F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(tok, lambda t: F.array_contains(stop_arr, F.lower(t))))
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    token_chars = F.aggregate(tok, F.lit(0), lambda acc, t: acc + F.length(t))
    return docs.select(
        F.col(id_col),
        F.round(alpha_chars / F.greatest(F.length(text_col), F.lit(1)), 6).alias("alpha_ratio"),
        F.round(n_stop / F.greatest(F.size(tok), F.lit(1)), 6).alias("stopword_ratio"),
        F.round(token_chars / F.greatest(F.size(tok), F.lit(1)), 6).alias("avg_token_len"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic: 'en' vs 'unk'."""
    tok = tokens(F.col(text_col))
    stop_arr = F.array([F.lit(w) for w in EN_STOPWORDS])
    ratio = F.size(F.filter(tok, lambda t: F.array_contains(stop_arr, F.lower(t)))) / F.greatest(
        F.size(tok), F.lit(1)
    )
    return docs.select(
        F.col(id_col),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
    )


def frequent_tokens(
    docs: DataFrame, text_col: str = "text", min_ratio: float = 0.002
) -> DataFrame:
    """Heavy-hitter tokens: count >= min_ratio * total tokens.

    Exact mode of the Misra-Gries contract (frequencies/sketch.rs:394-430,
    NoFalsePositives at threshold): deterministic set output (no top-k tie
    ambiguity).
    """
    ex = docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = ex.groupBy("token").agg(F.count("*").alias("cnt"))
    total = ex.agg(F.count("*").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") >= F.col("__total") * min_ratio)
        .drop("__total")
    )
