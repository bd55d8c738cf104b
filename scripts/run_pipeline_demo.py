"""Drive the full dedup pipeline end-to-end on a generated corpus.

Usage (from the repo root): PYTHONPATH=. python scripts/run_pipeline_demo.py [n_files]

Prints recall vs the embedded exact-Jaccard truth, cluster stats, and the
stage metrics — the smallest honest end-to-end exercise of the engine.
"""

import sys

from pyspark.sql import functions as F

from datasketches_rust_spark.config import PipelineConfig
from datasketches_rust_spark.corpus.generator import corpus_spark, truth_pairs
from datasketches_rust_spark.plans.pipeline import DedupPipeline
from datasketches_rust_spark.plans.session import get_spark


def main(n_files: int = 5000) -> None:
    cfg = PipelineConfig()
    spark = get_spark(app_name="dedup-demo")
    corpus = corpus_spark(spark, n_files, seed=42).cache()

    pipe = DedupPipeline(spark, cfg)
    clusters = pipe.run(corpus.drop("file_seq"))

    ids = corpus.select(
        F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("file_id"),
        "file_seq",
    )
    pdf = clusters.join(ids, "file_id").toPandas()

    truth = truth_pairs(42, n_files)
    must = truth[truth.true_jaccard >= cfg.jaccard_threshold]
    cl = pdf.set_index("file_seq")["cluster_id"]
    recall = (cl.loc[must.seq_a].to_numpy() == cl.loc[must.seq_b].to_numpy()).mean()

    n_clusters = pdf.cluster_id.nunique()
    dup_files = len(pdf) - n_clusters
    print(f"files={n_files} clusters={n_clusters} dup_files={dup_files}")
    print(f"truth_pairs(J>={cfg.jaccard_threshold})={len(must)} recall={recall:.4f}")
    assert recall >= 0.99, "recall below contract"

    # precision: predicted same-cluster pairs vs truth at a slack threshold
    # (accepting J in [thr-2σ, thr) is by design — see operators/verify.py)
    import itertools

    predicted = set()
    for _, grp in pdf.groupby("cluster_id"):
        seqs = sorted(grp.file_seq.tolist())
        predicted.update(itertools.combinations(seqs, 2))
    ok = set(map(tuple, truth[truth.true_jaccard >= 0.7][["seq_a", "seq_b"]].values))
    if predicted:
        precision = len(predicted & ok) / len(predicted)
        print(f"predicted_pairs={len(predicted)} precision(J>=0.7)={precision:.4f}")
    print("PIPELINE DEMO OK")
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 5000)
