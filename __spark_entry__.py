"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 implemented by
``datasketches_rust_spark``; ``oracle_sql()`` holds the DuckDB-equivalent
ANSI SQL. Sketch queries are configured in *exact mode* (k >= true
distinct count) so the theta estimate equals COUNT(DISTINCT) and the
value-hash comparison is meaningful — the estimation-mode behavior is
covered by pytest (tests/test_sigkit.py, tests/test_pipeline.py).

Entries without an oracle (sketch-estimate / LSH operators whose output is
not SQL-expressible) get the driver's rows-only check and their own pytest
oracles instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from datasketches_rust_spark.config import PipelineConfig
from datasketches_rust_spark.functions.sketches import (
    bloom_contains,
    bloom_filter,
    countmin_estimate,
    countmin_relative_error,
    countmin_sketch,
    countmin_with_accuracy,
    frequent_items,
    hll_distinct,
)
from datasketches_rust_spark.functions.textops import (
    exact_dedup_map,
    frequent_tokens,
    lang_id,
    ngram_jaccard_pairs,
    quality_stats,
    token_stats,
)
from datasketches_rust_spark.functions.theta import (
    theta_a_not_b,
    theta_estimate,
    theta_intersection,
    theta_sketch_agg,
    theta_union,
)
from datasketches_rust_spark.operators.ann import ann_topk_bruteforce, ann_topk_lsh
from datasketches_rust_spark.operators.simhash_pairs import simhash_pairs
from datasketches_rust_spark.operators.substring import (
    containment_pairs,
    doc_fingerprints,
    duplicated_spans,
)
from datasketches_rust_spark.plans.session import read_parquet

CFG = PipelineConfig()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _docs_as_corpus(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("head").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


# --------------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline over the sf0.001 documents table."""
    from datasketches_rust_spark.plans.pipeline import DedupPipeline

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pipe = DedupPipeline(spark, CFG)
    return pipe.run(_docs_as_corpus(docs))


# ------------------------------------------------------------------- queries

def _q_ngram_jaccard(spark, sf):
    return ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.8)


def _q_substring(spark, sf):
    return containment_pairs(_t(spark, sf, "documents"))


def _q_exact_dedup(spark, sf):
    return exact_dedup_map(_t(spark, sf, "documents"))


def _q_token_stats(spark, sf):
    df = token_stats(_t(spark, sf, "documents"))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _q_quality(spark, sf):
    return quality_stats(_t(spark, sf, "documents"))


def _q_lang_id(spark, sf):
    return lang_id(_t(spark, sf, "documents"))


def _q_frequent_tokens(spark, sf):
    return frequent_tokens(_t(spark, sf, "documents"), min_ratio=0.002)


def _q_theta_distinct(spark, sf):
    sk = theta_sketch_agg(_t(spark, sf, "lineitem"), ["l_returnflag"], "l_orderkey", k=16384)
    return sk.select(
        "l_returnflag",
        F.round(theta_estimate(F.col("sketch"))).cast("long").alias("n_distinct"),
    )


def _events_sketch(spark, sf, etype, k=1024):
    ev = _t(spark, sf, "events").where(F.col("event_type") == etype)
    return theta_sketch_agg(ev, [], "user_id", k=k).select(F.col("sketch").alias(etype))


def _q_theta_union(spark, sf):
    a = _events_sketch(spark, sf, "click")
    b = _events_sketch(spark, sf, "view")
    return a.crossJoin(b).select(
        F.round(theta_estimate(theta_union(F.col("click"), F.col("view"), k=1024)))
        .cast("long")
        .alias("n_users")
    )


def _q_theta_intersect(spark, sf):
    a = _events_sketch(spark, sf, "click")
    b = _events_sketch(spark, sf, "purchase")
    return a.crossJoin(b).select(
        F.round(theta_estimate(theta_intersection(F.col("click"), F.col("purchase"))))
        .cast("long")
        .alias("n_users")
    )


def _q_theta_anotb(spark, sf):
    a = _events_sketch(spark, sf, "click")
    b = _events_sketch(spark, sf, "purchase")
    return a.crossJoin(b).select(
        F.round(theta_estimate(theta_a_not_b(F.col("click"), F.col("purchase"))))
        .cast("long")
        .alias("n_users")
    )


def _q_tuple_distinct_sum(spark, sf):
    li = _t(spark, sf, "lineitem")
    sk = theta_sketch_agg(li, ["l_returnflag"], "l_orderkey", k=16384).select(
        "l_returnflag",
        F.round(theta_estimate(F.col("sketch"))).cast("long").alias("n_distinct_orders"),
    )
    sums = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("sum_qty"))
    return sk.join(sums, "l_returnflag")


def _q_tuple_union_segments(spark, sf):
    """One MERGEABLE tuple-sketch column per segment, unioned with the
    AddAssign combine policy (tuple/policy.rs:80-121, tuple/union.rs:68-128):
    distinct orders + summed quantity from the single merged sketch."""
    from datasketches_rust_spark.functions.tuple import (
        tuple_estimate,
        tuple_sketch_agg,
        tuple_summary_sum,
        tuple_union,
    )

    li = _t(spark, sf, "lineitem")
    segs = tuple_sketch_agg(li, ["l_linestatus"], "l_orderkey", "l_quantity", k=32768)
    a = segs.where("l_linestatus = 'O'").select(F.col("sketch").alias("sa"))
    b = segs.where("l_linestatus = 'F'").select(F.col("sketch").alias("sb"))
    u = a.crossJoin(b).select(tuple_union(F.col("sa"), F.col("sb"), k=32768).alias("u"))
    return u.select(
        F.round(tuple_estimate(F.col("u"))).cast("long").alias("n_distinct_orders"),
        F.round(tuple_summary_sum(F.col("u")), 2).alias("sum_qty"),
    )


def _q_tuple_anotb_qty(spark, sf):
    """Distinct orders + summed quantity present in segment O but NOT F —
    TupleANotB (tuple/a_not_b.rs:76-105): A's summaries kept, B acts as a
    key-only view. Exact mode (k >= distinct orders per segment at driver
    sf), so estimate == exact count and the summary sum is exact."""
    from datasketches_rust_spark.functions.tuple import (
        tuple_a_not_b,
        tuple_estimate,
        tuple_sketch_agg,
        tuple_summary_sum,
    )

    li = _t(spark, sf, "lineitem")
    segs = tuple_sketch_agg(li, ["l_linestatus"], "l_orderkey", "l_quantity", k=32768)
    a = segs.where("l_linestatus = 'O'").select(F.col("sketch").alias("sa"))
    b = segs.where("l_linestatus = 'F'").select(F.col("sketch").alias("sb"))
    d = a.crossJoin(b).select(tuple_a_not_b(F.col("sa"), F.col("sb")).alias("d"))
    return d.select(
        F.round(tuple_estimate(F.col("d"))).cast("long").alias("n_distinct_orders"),
        F.round(tuple_summary_sum(F.col("d")), 2).alias("sum_qty"),
    )


def _q_theta_merge_orders(spark, sf):
    """Sketch-warehouse re-aggregation (the reference's union accumulator,
    common/union.rs:64-100, as a grouped aggregate): store one theta sketch
    per (returnflag, linestatus) cell, then merge the stored sketches per
    returnflag — no crossJoin fold. Exact mode at driver sf (k = 32768 >=
    distinct orders per flag), so the merged estimate equals
    COUNT(DISTINCT)."""
    from datasketches_rust_spark.functions.theta import theta_merge_agg

    li = _t(spark, sf, "lineitem")
    cells = theta_sketch_agg(li, ["l_returnflag", "l_linestatus"], "l_orderkey", k=32768)
    merged = theta_merge_agg(cells, ["l_returnflag"], "sketch", k=32768)
    return merged.select(
        "l_returnflag",
        F.round(theta_estimate(F.col("sketch"))).cast("long").alias("n_distinct"),
    )


def _q_tuple_merge_qty(spark, sf):
    """Grouped tuple-sketch merge (tuple/union.rs:68-128 as an aggregate):
    per-(returnflag, linestatus) tuple sketches of (orderkey, quantity)
    re-aggregated per returnflag with AddAssign summaries — orders split
    across linestatus cells sum their quantities back together. Exact mode
    at driver sf."""
    from datasketches_rust_spark.functions.tuple import (
        tuple_estimate,
        tuple_merge_agg,
        tuple_sketch_agg,
        tuple_summary_sum,
    )

    li = _t(spark, sf, "lineitem")
    cells = tuple_sketch_agg(
        li, ["l_returnflag", "l_linestatus"], "l_orderkey", "l_quantity", k=32768
    )
    merged = tuple_merge_agg(cells, ["l_returnflag"], "sketch", k=32768)
    return merged.select(
        "l_returnflag",
        F.round(tuple_estimate(F.col("sketch"))).cast("long").alias("n_distinct_orders"),
        F.round(tuple_summary_sum(F.col("sketch")), 2).alias("sum_qty"),
    )


def _q_theta_jaccard_users(spark, sf):
    """Jaccard triple of click-vs-view user sets (jaccard_similarity.rs:
    46-111). Exact mode (k=1024 >= distinct users per type at driver sf):
    p == 1 collapses the triple to the exact |A∩B|/|A∪B|."""
    from datasketches_rust_spark.functions.theta import theta_jaccard

    a = _events_sketch(spark, sf, "click")
    b = _events_sketch(spark, sf, "view")
    jt = theta_jaccard(F.col("click"), F.col("view"))
    return a.crossJoin(b).select(
        F.round(jt["lower"], 6).alias("j_lower"),
        F.round(jt["estimate"], 6).alias("j_est"),
        F.round(jt["upper"], 6).alias("j_upper"),
    )


def _q_frequent_events(spark, sf):
    ev = _t(spark, sf, "events")
    total = ev.count()
    # float threshold — the oracle's HAVING count(*) >= total*0.15 is
    # un-truncated, so flooring here would disagree when total*0.15 is
    # fractional and a count lands in the gap
    return frequent_items(ev, "event_type", threshold=total * 0.15)


def _q_countmin(spark, sf):
    ev = _t(spark, sf, "events")
    # accuracy-first config (countmin/sketch.rs:135-155): 95% confidence →
    # ceil(ln 20) = 3 rows; width from the error 2048 buckets imply
    # (e/2048) — the roundtrip keeps the sketch identical to the previous
    # hand-picked (3, 2048) while deriving it from target bounds. The
    # config-carrying CountMinDF supplies (num_hashes, width) to the probe
    # itself, so build and estimate can never disagree on bucket indexing.
    num_hashes, width = countmin_with_accuracy(countmin_relative_error(2048), 0.95)
    sketch = countmin_sketch(ev, "event_type", num_hashes=num_hashes, width=width)
    items = ev.select("event_type").distinct()
    return countmin_estimate(sketch, items, "event_type")


def _q_countmin_reflayout(spark, sf):
    """Count-Min with the REFERENCE's exact cell layout: murmur128-h1
    buckets under per-row seeds derived as countmin/sketch.rs:513-523
    (vectorized sigkit.murmur3 kernel, pinned by the reference's own test
    vectors). Exact mode (width >> distinct event types), so estimates
    equal true counts and the oracle is exact."""
    ev = _t(spark, sf, "events")
    sketch = countmin_sketch(ev, "event_type", num_hashes=3, width=2048, ref_seed=9001)
    items = ev.select("event_type").distinct()
    return countmin_estimate(sketch, items, "event_type")


def _q_tdigest_quantiles(spark, sf):
    od = _t(spark, sf, "orders")
    qs = od.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q")
    )
    return qs.select(
        "o_orderstatus",
        F.round(F.element_at("q", 1), 4).alias("p50"),
        F.round(F.element_at("q", 2), 4).alias("p90"),
        F.round(F.element_at("q", 3), 4).alias("p99"),
    )


def _q_bloom_semijoin(spark, sf):
    orders = _t(spark, sf, "orders").where(F.col("o_totalprice") > 50000)
    li = _t(spark, sf, "lineitem")
    f = bloom_filter(orders, "o_orderkey", num_bits=1 << 22, num_hashes=5)
    keys = li.select("l_orderkey").distinct()
    flags = bloom_contains(keys, "l_orderkey", f)
    return (
        li.join(flags.where("might_contain").select("l_orderkey"), "l_orderkey")
        .agg(F.count("*").alias("n_matched"))
    )


def _q_ann_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return ann_topk_bruteforce(emb, emb.where("vec_id < 10"), k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


# rows-only (sketch-estimate / LSH operators; pytest carries their oracles)

def _q_hll_distinct(spark, sf):
    return hll_distinct(_t(spark, sf, "events"), ["event_type"], "user_id")


def _q_lsh_dup_pairs(spark, sf):
    from datasketches_rust_spark.plans.pipeline import DedupPipeline

    docs = _docs_as_corpus(_t(spark, sf, "documents"))
    return DedupPipeline(spark, CFG).dup_pairs(docs)


def _q_simhash_pairs(spark, sf):
    return simhash_pairs(_t(spark, sf, "documents"), CFG, max_hamming=7)


def _q_doc_fingerprints(spark, sf):
    return doc_fingerprints(_t(spark, sf, "documents"))


def _q_ann_topk_lsh(spark, sf):
    # 32 bands x 4 bits: per-pair candidate recall > 0.999 at the top-5
    # cosine range of this corpus — verified to reproduce the brute-force
    # ranking exactly at sf0.01/sf0.1, so it shares ann_topk's oracle
    emb = _t(spark, sf, "embeddings")
    return ann_topk_lsh(
        emb, emb.where("vec_id < 10"), k=5, n_planes=128, band_bits=4
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def _q_tdigest_sketch(spark, sf):
    from datasketches_rust_spark.functions.sketch_aggs import tdigest_agg

    # delta >> pi * rows-per-group => the k1 cap never merges two points,
    # every centroid is a singleton and the t-digest midpoint interpolation
    # (tdigest/sketch.rs:391) is exact — hence SQL-expressible (see oracle).
    # Estimation-mode behavior (delta=200) is pinned by tests/test_sigkit.py.
    out = tdigest_agg(
        _t(spark, sf, "orders"),
        ["o_orderstatus"],
        "o_totalprice",
        quantiles=[0.5, 0.9, 0.99],
        delta=1e7,
    )
    return out.select(
        "o_orderstatus",
        *[F.round(F.col(c), 4).alias(c) for c in ("p50", "p90", "p99")],
    )


def _q_frequent_sketch(spark, sf):
    from datasketches_rust_spark.functions.sketch_aggs import frequent_items_agg

    # exact mode: max_map_size >= distinct items => Misra-Gries never
    # purges, offset stays 0, count_lb == count_ub == exact count
    # (frequencies/sketch.rs:96-132) — so the reference's threshold query
    # (clamped threshold, STRICT bound > thr; sketch.rs:421-436) is plain
    # HAVING count(*) > thr and the oracle is exact. Estimation-mode
    # (purging) behavior is pinned by tests/test_sketches.py.
    return frequent_items_agg(
        _t(spark, sf, "events"), [], "event_type", max_map_size=64, threshold_weight=50
    )


def _q_duplicated_spans(spark, sf):
    return duplicated_spans(_t(spark, sf, "documents"), min_len=64)


def _q_embedding_cosine_pairs(spark, sf):
    """Exhaustive cosine-threshold pairs (the LSH variant's oracle)."""
    emb = _t(spark, sf, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("eb"))
    da = F.transform(F.col("ea"), lambda x: x.cast("double"))
    db = F.transform(F.col("eb"), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(da, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(db, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        a.crossJoin(b)
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", F.round(dot / (na * nb), 9).alias("cosine"))
        .where(F.col("cosine") >= 0.45)
    )


def _q_embedding_dup_pairs_lsh(spark, sf):
    from datasketches_rust_spark.operators.ann import embedding_dup_pairs

    # 24 bands x 4 bits: candidate recall 1.0 at cosine >= 0.45 on this
    # corpus (verified vs embedding_cosine_pairs at sf0.01), so the
    # exact-verify output equals the exhaustive pairs and shares its oracle.
    # max_bucket must exceed any possible bucket size for the oracle share
    # to hold (an over-cap bucket degrades to hub-star pairs — see the
    # operator docstring); the embeddings table is <= 10^6 rows at every
    # driver sf, so 10^9 is provably uncapped here while the operator's
    # default cap stays the 100 TB scale path.
    return embedding_dup_pairs(
        _t(spark, sf, "embeddings"),
        threshold=0.45,
        n_planes=96,
        band_bits=4,
        max_bucket=1_000_000_000,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "substring_containment": _q_substring,
        "exact_dedup_map": _q_exact_dedup,
        "token_stats": _q_token_stats,
        "quality_stats": _q_quality,
        "lang_id": _q_lang_id,
        "frequent_tokens": _q_frequent_tokens,
        "theta_distinct_orders": _q_theta_distinct,
        "theta_union_users": _q_theta_union,
        "theta_intersect_users": _q_theta_intersect,
        "theta_anotb_users": _q_theta_anotb,
        "tuple_distinct_sum": _q_tuple_distinct_sum,
        "tuple_union_segments": _q_tuple_union_segments,
        "tuple_anotb_qty": _q_tuple_anotb_qty,
        "theta_merge_orders": _q_theta_merge_orders,
        "tuple_merge_qty": _q_tuple_merge_qty,
        "theta_jaccard_users": _q_theta_jaccard_users,
        "frequent_events": _q_frequent_events,
        "countmin_event_counts": _q_countmin,
        "countmin_reflayout_counts": _q_countmin_reflayout,
        "tdigest_quantiles": _q_tdigest_quantiles,
        "bloom_semijoin": _q_bloom_semijoin,
        "ann_topk": _q_ann_topk,
        # rows-only (no SQL-expressible oracle)
        "hll_distinct_users": _q_hll_distinct,
        "lsh_dup_pairs_est": _q_lsh_dup_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "doc_fingerprints": _q_doc_fingerprints,
        "ann_topk_lsh": _q_ann_topk_lsh,
        "tdigest_sketch_quantiles": _q_tdigest_sketch,
        "frequent_items_sketch": _q_frequent_sketch,
        "duplicated_spans": _q_duplicated_spans,
        "embedding_cosine_pairs": _q_embedding_cosine_pairs,
        "embedding_dup_pairs_lsh": _q_embedding_dup_pairs_lsh,
    }


_TOK = "[A-Za-z0-9_]+"
_STOP = (
    "the of and to in a is that it for on with as are was at by an be this "
    "from or which you not have has had but they his her its were been"
).split()
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _STOP) + "]"

_SHINGLES_CTE = f"""
tok AS (SELECT doc_id, regexp_extract_all(text, '{_TOK}') AS t FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(t) >= 5
       THEN list_transform(range(1, len(t) - 3), i -> array_to_string(list_slice(t, i, i + 4), ' '))
       WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
       ELSE [] END AS shs
  FROM tok),
ex AS (SELECT doc_id, unnest(list_distinct(shs)) AS s FROM sh)
"""


def oracle_sql() -> dict[str, str]:
    o = _oracle_sql_base()
    # LSH variants verified to reach candidate recall 1.0 at driver scale
    # (see the query docstrings) — their exact-verify output equals the
    # exhaustive operator, so they share its oracle.
    o["ann_topk_lsh"] = o["ann_topk"]
    o["embedding_dup_pairs_lsh"] = o["embedding_cosine_pairs"]
    # exact-mode Misra-Gries: never purges at 5 distinct items << 64 slots;
    # strict > mirrors the reference's threshold inequality (sketch.rs:434)
    o["frequent_items_sketch"] = """
SELECT event_type AS item,
       CAST(count(*) AS BIGINT) AS count_lb,
       CAST(count(*) AS BIGINT) AS count_ub
FROM events GROUP BY 1 HAVING count(*) > 50
"""
    return o


# Queries intentionally left WITHOUT an oracle (rows-only driver check),
# each because its output is a function of the sketch kernels and not
# SQL-expressible; pytest carries their correctness instead:
# - hll_distinct_users: HLL++ estimate (no SQL equivalent of the estimator)
# - lsh_dup_pairs_est: banded-MinHash Jaccard *estimates*; recall/precision
#   vs exact truth asserted in tests/test_pipeline.py (recall 1.0 at J>=0.8)
# - simhash_pairs: needs the xxhash shingle-stream SimHash kernel; kernel
#   pinned by tests/test_sigkit.py, band completeness by pigeonhole
# - doc_fingerprints: winnowing minima over the hash stream; guarantee
#   tested in tests/test_sigkit.py
# - duplicated_spans: suffix-array LCP spans; SA parity vs naive suffix
#   sort in tests/test_suffix_array.py


def _oracle_sql_base() -> dict[str, str]:
    return {
        "ngram_jaccard_pairs": f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT da AS doc_id_a, db AS doc_id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8
""",
        "substring_containment": """
SELECT a.doc_id AS doc_id_contained, b.doc_id AS doc_id_container
FROM documents a JOIN documents b
ON a.doc_id != b.doc_id AND position(a.text IN b.text) > 0
""",
        "exact_dedup_map": """
SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep_id FROM documents
""",
        "token_stats": f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_TOK}')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '{_TOK}'))) AS BIGINT) AS n_distinct_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
        "quality_stats": f"""
WITH t AS (SELECT doc_id, text, regexp_extract_all(text, '{_TOK}') AS tok FROM documents)
SELECT doc_id,
  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / greatest(length(text), 1), 6) AS alpha_ratio,
  round(len(list_filter(tok, x -> list_contains({_STOP_SQL}, lower(x)))) * 1.0 / greatest(len(tok), 1), 6) AS stopword_ratio,
  round(list_sum(list_transform(tok, x -> length(x))) * 1.0 / greatest(len(tok), 1), 6) AS avg_token_len
FROM t
""",
        "lang_id": f"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '{_TOK}') AS tok FROM documents)
SELECT doc_id,
  CASE WHEN len(list_filter(tok, x -> list_contains({_STOP_SQL}, lower(x)))) * 1.0
            / greatest(len(tok), 1) >= 0.05
       THEN 'en' ELSE 'unk' END AS lang_pred
FROM t
""",
        "frequent_tokens": f"""
WITH ex AS (SELECT unnest(regexp_extract_all(text, '{_TOK}')) AS token FROM documents),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY 1),
t AS (SELECT count(*) * 0.002 AS thr FROM ex)
SELECT token, cnt FROM c, t WHERE cnt >= thr
""",
        "theta_distinct_orders": """
SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct
FROM lineitem GROUP BY 1
""",
        "theta_union_users": """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE event_type IN ('click', 'view')
""",
        "theta_intersect_users": """
SELECT CAST(count(*) AS BIGINT) AS n_users FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
""",
        "theta_anotb_users": """
SELECT CAST(count(*) AS BIGINT) AS n_users FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
""",
        "tuple_distinct_sum": """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct_orders,
       sum(l_quantity) AS sum_qty
FROM lineitem GROUP BY 1
""",
        "tuple_union_segments": """
SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct_orders,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
""",
        "tuple_anotb_qty": """
WITH a AS (SELECT l_orderkey, sum(l_quantity) AS qty
           FROM lineitem WHERE l_linestatus = 'O' GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_distinct_orders,
       round(coalesce(sum(qty), 0), 2) AS sum_qty
FROM a WHERE l_orderkey NOT IN
  (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
""",
        "theta_merge_orders": """
SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct
FROM lineitem GROUP BY 1
""",
        "tuple_merge_qty": """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct_orders,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY 1
""",
        "theta_jaccard_users": """
WITH i AS (SELECT count(*) AS c FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'view')),
u AS (SELECT count(DISTINCT user_id) AS c
      FROM events WHERE event_type IN ('click', 'view'))
SELECT round(i.c * 1.0 / u.c, 6) AS j_lower,
       round(i.c * 1.0 / u.c, 6) AS j_est,
       round(i.c * 1.0 / u.c, 6) AS j_upper
FROM i, u
""",
        "frequent_events": """
WITH t AS (SELECT count(*) * 0.15 AS thr FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events, t GROUP BY event_type, thr HAVING count(*) >= thr
""",
        "countmin_event_counts": """
SELECT event_type, CAST(count(*) AS BIGINT) AS est_count FROM events GROUP BY 1
""",
        "countmin_reflayout_counts": """
SELECT event_type, CAST(count(*) AS BIGINT) AS est_count FROM events GROUP BY 1
""",
        "tdigest_quantiles": """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY 1
""",
        # exact-mode t-digest (all singleton centroids): quantile is the
        # midpoint interpolation over order statistics — positions
        # cum_i = i - 0.5, target = q * n, linear between brackets, clamped
        # at the ends (tdigest/sketch.rs:391 with unit weights).
        "tdigest_sketch_quantiles": """
WITH s AS (
  SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) - 0.5 AS cum,
         count(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders),
t AS (SELECT s.*, p, p * n AS target
      FROM s, (SELECT unnest([0.5, 0.9, 0.99]) AS p)),
b AS (SELECT o_orderstatus, p,
        max(CASE WHEN cum <= target THEN cum END) AS c0,
        max(CASE WHEN cum <= target THEN v END) AS v0,
        min(CASE WHEN cum >= target THEN cum END) AS c1,
        min(CASE WHEN cum >= target THEN v END) AS v1,
        any_value(target) AS tgt
      FROM t GROUP BY 1, 2),
q AS (SELECT o_orderstatus, p,
        CASE WHEN c0 IS NULL THEN v1
             WHEN c1 IS NULL THEN v0
             WHEN c1 = c0 THEN v0
             ELSE v0 + (tgt - c0) / (c1 - c0) * (v1 - v0) END AS qv
      FROM b)
SELECT o_orderstatus,
       round(max(CASE WHEN p = 0.5 THEN qv END), 4) AS p50,
       round(max(CASE WHEN p = 0.9 THEN qv END), 4) AS p90,
       round(max(CASE WHEN p = 0.99 THEN qv END), 4) AS p99
FROM q GROUP BY 1
""",
        "bloom_semijoin": """
SELECT CAST(count(*) AS BIGINT) AS n_matched FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 50000)
""",
        "ann_topk": """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
q AS (SELECT * FROM n WHERE vec_id < 10),
scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
  round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * n.v[i]))
        / (q.nrm * n.nrm), 9) AS c
  FROM n, q WHERE n.vec_id != q.vec_id)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
""",
        "embedding_cosine_pairs": """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
             / (a.nrm * b.nrm), 9) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
            / (a.nrm * b.nrm), 9) >= 0.45
""",
    }
