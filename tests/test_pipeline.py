"""End-to-end dedup pipeline tests on the deterministic corpus.

Correctness anchors (SURVEY.md §5 carry-over):
- per-row invariant: sha256(content) from the generator == Spark F.sha2;
- dup-pair recall >= 0.99 vs the exact-Jaccard oracle at true J >= 0.8;
- no false merges across unrelated families (boilerplate trap);
- resume: second run with same checkpoint dir reuses every stage and
  produces identical clusters.
"""

import hashlib
import json
import os
import subprocess
import sys
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_rust_spark.config import PipelineConfig
from datasketches_rust_spark.corpus.generator import (
    content_sha_pandas,
    corpus_spark,
    gen_batch,
    truth_families,
    truth_pairs,
)
from datasketches_rust_spark.plans.pipeline import DedupPipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FILES = 2000
SEED = 42
CFG = PipelineConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_spark(spark, N_FILES, seed=SEED, partitions=8).cache()


@pytest.fixture(scope="module")
def clusters_pdf(spark, corpus):
    pipe = DedupPipeline(spark, CFG)
    clusters = pipe.run(corpus.drop("file_seq"))
    # map back to generator ids for truth joins
    ids = corpus.select(
        F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("file_id"),
        "file_seq",
    )
    return clusters.join(ids, "file_id").toPandas()


def test_per_row_invariant_sha256(spark, corpus):
    """Generator-recorded sha256(content) == Spark F.sha2(content, 256)."""
    spark_shas = (
        corpus.select("file_seq", F.sha2("content", 256).alias("sha"))
        .orderBy("file_seq")
        .toPandas()
    )
    local = gen_batch(np.arange(N_FILES), SEED)
    local_shas = content_sha_pandas(local["content"])
    assert (spark_shas["sha"].to_numpy() == local_shas.to_numpy()).all()


def test_recall_against_exact_jaccard_oracle(clusters_pdf):
    truth = truth_pairs(SEED, N_FILES)
    must = truth[truth.true_jaccard >= CFG.jaccard_threshold]
    cl = clusters_pdf.set_index("file_seq")["cluster_id"]
    same = (cl.loc[must.seq_a].to_numpy() == cl.loc[must.seq_b].to_numpy())
    recall = same.mean()
    assert recall >= 0.99, f"recall {recall:.4f} over {len(must)} truth pairs"


def test_no_false_merges_across_families(clusters_pdf):
    """Boilerplate-trap files (shared 20-line license header, unrelated
    bodies) must not cluster together, and clusters must not span
    unrelated families in general."""
    fams = truth_families(N_FILES)
    df = clusters_pdf.merge(fams, on="file_seq")
    traps = df[df.klass == "boilerplate"]
    sizes = traps.groupby("cluster_id").size()
    assert (sizes == 1).all(), "boilerplate files merged into a cluster"
    # any cluster containing >1 family must be explainable by a truth pair
    # with true J >= 0.5 (borderline links); unrelated merges are bugs
    multi = df.groupby("cluster_id")["family"].nunique()
    bad_clusters = multi[multi > 1].index
    truth = truth_pairs(SEED, N_FILES)
    linked = set(map(tuple, truth[truth.true_jaccard >= 0.5][["seq_a", "seq_b"]].values))
    for cid in bad_clusters:
        members = df[df.cluster_id == cid]
        fams_in = members.family.unique()
        # every pair of families in the cluster needs some linking evidence
        for i, fa in enumerate(fams_in):
            for fb in fams_in[i + 1:]:
                a_ids = members[members.family == fa].file_seq
                b_ids = members[members.family == fb].file_seq
                found = any(
                    (min(x, y), max(x, y)) in linked for x in a_ids for y in b_ids
                )
                assert found, f"cluster {cid[:12]} merges unrelated families {fa},{fb}"


def test_exact_dup_mega_family_single_cluster(clusters_pdf):
    """ids 0..63 are byte-identical → exactly one cluster (skew path)."""
    mega = clusters_pdf[clusters_pdf.file_seq < 64]
    assert mega.cluster_id.nunique() == 1
    assert mega.content_sha.nunique() == 1


def test_checkpoint_resume_identical_and_reused(spark, corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    pipe1 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt)
    out1 = pipe1.run(corpus.drop("file_seq")).orderBy("file_id").toPandas()

    pipe2 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt)
    out2 = pipe2.run(corpus.drop("file_seq")).orderBy("file_id").toPandas()
    pd.testing.assert_frame_equal(out1, out2)

    metrics = spark.read.parquet(f"{ckpt}/_metrics").toPandas()
    second = metrics[metrics.reused]
    # every stage of the second run resumed from checkpoint
    assert set(second.stage) >= {"signatures", "rep_keys", "candidates", "verified", "clusters"}

    # a verify-only change: the stages upstream of verify are reused, and
    # verified + clusters recompute (the threshold is in verified's
    # fingerprint, which clusters' chains)
    before = Counter(map(tuple, metrics.itertuples(index=False)))
    pipe3 = DedupPipeline(spark, CFG.with_(jaccard_threshold=0.5), checkpoint_dir=ckpt)
    pipe3.run(corpus.drop("file_seq"))
    after = spark.read.parquet(f"{ckpt}/_metrics").toPandas()
    run3 = pd.DataFrame(
        list((Counter(map(tuple, after.itertuples(index=False))) - before).elements()),
        columns=after.columns,
    ).set_index("stage")
    assert run3.loc[["signatures", "ids", "rep_keys", "candidates"], "reused"].all()
    assert not run3.loc[["verified", "clusters"], "reused"].any()

    # a signature-parameter change breaks the fingerprint chain → every
    # stage of that run recomputes (each fingerprint chains its upstream's)
    pipe4 = DedupPipeline(spark, CFG.with_(kmv_k=128), checkpoint_dir=ckpt)
    pipe4.run(corpus.drop("file_seq"))
    m4 = spark.read.parquet(f"{ckpt}/_metrics").toPandas()
    run4 = m4[m4.input_fingerprint.str.contains(str(CFG.with_(kmv_k=128).cfg_hash()))]
    assert set(run4.stage) >= {"signatures", "rep_keys", "candidates", "verified", "clusters"}
    assert not run4.reused.any()


def test_resume_after_crash_past_candidates(spark, corpus, tmp_path):
    """A run killed right after the candidates stage is written resumes on
    the same checkpoint dir: signatures, ids, rep_keys and candidates are
    reused, verified and clusters recompute, and the clusters equal those
    of an uninterrupted run."""
    ckpt = str(tmp_path / "ckpt")

    class Crash(DedupPipeline):
        def _stage(self, name, upstream_fp, compute, materialize=True):
            out = super()._stage(name, upstream_fp, compute, materialize)
            if name == "candidates":
                raise RuntimeError("killed after candidates")
            return out

    docs = corpus.drop("file_seq")
    with pytest.raises(RuntimeError, match="killed after candidates"):
        Crash(spark, CFG, checkpoint_dir=ckpt).run(docs)

    resumed = DedupPipeline(spark, CFG, checkpoint_dir=ckpt).run(docs)
    metrics = spark.read.parquet(f"{ckpt}/_metrics").toPandas().set_index("stage")
    assert metrics.loc[["signatures", "ids", "rep_keys", "candidates"], "reused"].all()
    assert not metrics.loc[["verified", "clusters"], "reused"].any()

    whole = DedupPipeline(spark, CFG).run(docs)
    pd.testing.assert_frame_equal(
        resumed.orderBy("file_id").toPandas(), whole.orderBy("file_id").toPandas()
    )


def test_stage_checkpoint_named_by_fingerprint(spark, tmp_path):
    """A stage checkpoints to <dir>/<stage>/<sha256(fingerprint)> and is
    reused exactly when that directory's _SUCCESS exists; a recompute
    leaves only the current fingerprint's copy; _metrics.rows_out is the
    checkpoint's row count whether written or reused; an error that is not
    a missing checkpoint propagates instead of being swallowed."""
    ckpt = tmp_path / "ckpt"
    pipe = DedupPipeline(spark, CFG, checkpoint_dir=str(ckpt))
    compute = lambda: spark.range(7)  # noqa: E731

    def digest(upstream_fp):
        return hashlib.sha256(pipe._fingerprint("ids", upstream_fp).encode()).hexdigest()

    # an old-layout checkpoint (parquet straight under <dir>/<stage>) is
    # recomputed, never reused, and removed
    spark.range(3).write.parquet(str(ckpt / "ids"))
    pipe._stage("ids", "up", compute)
    pipe._stage("ids", "up", compute)
    assert [m[3] for m in pipe.metrics] == [False, True]
    assert [p.name for p in (ckpt / "ids").iterdir()] == [digest("up")]

    (ckpt / "ids" / digest("up") / "_SUCCESS").unlink()  # a write cut short
    pipe._stage("ids", "up", compute)
    assert pipe.metrics[-1][3] is False

    pipe._stage("ids", "up2", compute)  # a fingerprint change
    assert pipe.metrics[-1][3] is False
    assert [p.name for p in (ckpt / "ids").iterdir()] == [digest("up2")]
    pipe._stage("ids", "up2", compute)
    assert pipe.metrics[-1][3] is True

    pipe.flush_metrics()
    metrics = spark.read.parquet(str(ckpt / "_metrics")).toPandas()
    assert sorted(metrics.reused) == [False, False, False, True, True]
    assert (metrics.rows_out == spark.read.parquet(str(ckpt / "ids" / digest("up2"))).count()).all()

    def broken(*_):
        raise RuntimeError("boom")

    pipe.spark = type("S", (), {"read": property(broken)})()
    with pytest.raises(RuntimeError, match="boom"):
        pipe._stage("ids", "up2", compute)


def test_checkpoints_read_back_with_the_inferred_schema(spark, tmp_path):
    """A just-written stage checkpoint, and a connected-components
    iteration written to the checkpoint dir, are read back with the
    schema spark.read.parquet infers for them (so no footer job runs)."""
    from datasketches_rust_spark.operators.connected_components import _cut_lineage

    ckpt = tmp_path / "ckpt"
    read = {}

    class Capture(DedupPipeline):
        def _stage(self, name, upstream_fp, compute, materialize=True):
            df, fp = super()._stage(name, upstream_fp, compute, materialize)
            read[name] = df.schema
            return df, fp

    docs = corpus_spark(spark, 300, seed=SEED, partitions=2).drop("file_seq")
    Capture(spark, CFG, checkpoint_dir=str(ckpt)).run(docs)
    assert set(read) >= {"signatures", "ids", "rep_keys", "candidates", "verified", "clusters"}
    for name, schema in read.items():
        (path,) = (ckpt / name).iterdir()
        assert schema == spark.read.parquet(str(path)).schema, name

    edges = spark.range(4).select(
        F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("src"),
        F.unhex(F.sha2((F.col("id") + 1).cast("string"), 256)).alias("dst"),
    )
    cut = _cut_lineage(edges, str(ckpt), "t")
    assert cut.schema == spark.read.parquet(str(ckpt / "cc_t")).schema


def test_bench_child_runs_pipeline(spark, tmp_path):
    """scripts/bench_dedup_child.py (the child bench.py runs per core
    count) runs the pipeline over a corpus parquet and prints its JSON
    line with a wall per stage. A subprocess: the child stops its session."""
    path = str(tmp_path / "corpus")
    corpus_spark(spark, 300, seed=SEED, partitions=2).drop("file_seq").write.parquet(path)
    env = dict(os.environ, PYTHONPATH=REPO)
    child = subprocess.run(
        [sys.executable, os.path.join("scripts", "bench_dedup_child.py"), path, "2"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert child.returncode == 0, child.stderr[-4000:]
    out = json.loads(child.stdout.strip().splitlines()[-1])
    assert out["files"] == out["rows"] == 300
    assert out["clusters"] >= 1
    assert set(out["stage_walls"]) == {
        "signatures", "ids", "rep_keys", "candidates", "verified", "clusters"
    }


def test_hot_lsh_bucket_star_path(spark):
    """Hundreds of *distinct* near-identical contents (post-exact-collapse
    hot bucket) must exceed max_bucket_size, exercise the star path, and
    still form one cluster with full recall."""
    base = " ".join(f"tok{i}" for i in range(400))
    rows = []
    for i in range(300):
        # one unique token appended → distinct contents, J ≈ 396/398 ≈ 0.995
        rows.append((f"org/r{i}", f"src/f{i}.py", f"{i:040x}", "python",
                     base + f" unique_{i}"))
    for i in range(50):  # unrelated controls
        rows.append((f"org/u{i}", f"src/u{i}.py", f"{i:040x}", "python",
                     " ".join(f"zz{i}_{j}" for j in range(400))))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    cfg = CFG.with_(max_bucket_size=50)  # force the star path
    out = DedupPipeline(spark, cfg).run(corpus).toPandas()
    near = out[out.file_id.isin(
        out.merge(corpus.select(
            F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("file_id"),
            "path").toPandas(), on="file_id").query("path.str.startswith('src/f')").file_id
    )]
    assert near.cluster_id.nunique() == 1, "hot bucket must collapse to one cluster"
    ctrl = out[~out.file_id.isin(near.file_id)]
    assert ctrl.cluster_id.nunique() == len(ctrl), "controls must stay singletons"


def test_signature_stage_is_shuffle_free(spark, corpus):
    """The stage-1 physical plan must contain no Exchange (map-side only)."""
    from datasketches_rust_spark.operators.signatures import compute_signatures

    plan = compute_signatures(corpus.drop("file_seq"), CFG)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_rep_payload_attach_is_wide_shuffle_free(spark, corpus):
    """The broadcast payload attach must be a BroadcastHashJoin over the
    signature scan with NO hash-partitioning exchange — the wide kmv/band
    rows are scanned in place, never re-shuffled (round-3 VERDICT: the
    reps exchange was the pipeline's one bus-bound stage)."""
    from datasketches_rust_spark.operators.lsh import exact_rep_keys, rep_payload
    from datasketches_rust_spark.operators.signatures import compute_signatures

    sigs = compute_signatures(corpus.drop("file_seq"), CFG).localCheckpoint(eager=True)
    keys = exact_rep_keys(
        sigs.select("file_id", "content_sha")
    ).localCheckpoint(eager=True)
    attached = rep_payload(sigs, keys, ["bands"], broadcast=True)
    plan = attached._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # and it selects exactly the rep rows with the requested columns
    n_distinct = sigs.select("content_sha").distinct().count()
    assert attached.columns == ["content_sha", "bands"]
    assert attached.count() == n_distinct


def test_rep_payload_fallback_path_identical(spark, corpus):
    """A rep-key count over broadcast_key_limit (the big-key-set fallback:
    materialized shuffle-hash reps stage, unpruned verify, iterative
    connected components) must produce identical clusters."""
    a = (
        DedupPipeline(spark, CFG)
        .run(corpus.drop("file_seq"))
        .orderBy("file_id")
        .toPandas()
    )
    b = (
        DedupPipeline(spark, CFG.with_(broadcast_key_limit=0))
        .run(corpus.drop("file_seq"))
        .orderBy("file_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_duplicate_corpus_rows_one_representative_per_content(spark, monkeypatch):
    """Duplicate (repo, path, commit) input rows must still yield exactly
    one representative row per content_sha on both plans (the duplicate
    probe turns on the wide dedup only when such rows exist), and the
    broadcast and fallback clusters must agree."""
    import datasketches_rust_spark.plans.pipeline as P

    rows = [
        ("r1", "a.py", "c1", "py", "alpha beta gamma delta epsilon zeta " * 4),
        ("r1", "b.py", "c1", "py", "alpha beta gamma delta epsilon zeta " * 4),
        ("r2", "c.py", "c1", "py", "totally different content here okay " * 4),
    ]
    corpus = spark.createDataFrame(
        # a.py and b.py share content and each appear 4x verbatim, so the
        # representative (the min file_id) is a duplicated row either way
        rows + rows[:2] * 3,
        "repo string, path string, commit string, lang string, content string",
    )
    attached = []

    def spy(reps, cfg):
        attached.append([bytes(r["content_sha"]) for r in reps.collect()])
        return orig(reps, cfg)

    orig = P.candidate_pairs
    monkeypatch.setattr(P, "candidate_pairs", spy)
    out = [
        DedupPipeline(spark, CFG.with_(broadcast_key_limit=limit))
        .run(corpus)
        .orderBy("file_id")
        .toPandas()
        for limit in (CFG.broadcast_key_limit, 0)
    ]
    pd.testing.assert_frame_equal(*out)
    for shas in attached:  # two distinct contents, one rep row each
        assert len(shas) == len(set(shas)) == 2
    assert len(attached) == 2
    clusters = out[0]
    assert len(clusters) == 9  # one row per input row
    assert (clusters.groupby("content_sha").cluster_id.nunique() == 1).all()
    assert clusters.content_sha.nunique() == 2


def test_pipeline_containment_runs_no_stage(spark, corpus):
    """DedupPipeline.containment is the direct operator over (file_id,
    content): it matches containment_pairs and runs no pipeline stage."""
    from datasketches_rust_spark.operators.substring import containment_pairs

    pipe = DedupPipeline(spark, CFG)
    c = corpus.drop("file_seq")
    out = {tuple(r) for r in pipe.containment(c).collect()}
    assert out and pipe.metrics == []

    docs = c.selectExpr(
        "sha2(concat_ws('\x00', repo, path, commit), 256) AS file_id", "content"
    )
    expect = {
        tuple(r)
        for r in containment_pairs(docs, id_col="file_id", text_col="content").collect()
    }
    assert out == expect


def test_rep_payload_auto_mode_resolves_from_key_count(spark, corpus, monkeypatch):
    """The pipeline derives every join side from the measured rep-key count
    (no static knob to forget): a limit below the key count takes the
    shuffle fallback for each payload attach and for verify, a comfortable
    limit keeps the broadcast path — both with identical clusters."""
    import datasketches_rust_spark.plans.pipeline as P

    calls = []
    for name in ("rep_payload", "verify_pairs"):
        def spy(*args, _orig=getattr(P, name), _name=name, **kw):
            calls.append((_name, kw["broadcast"]))
            return _orig(*args, **kw)

        monkeypatch.setattr(P, name, spy)
    a = (
        DedupPipeline(spark, CFG)
        .run(corpus.drop("file_seq"))
        .orderBy("file_id")
        .toPandas()
    )
    assert sorted(calls) == [
        ("rep_payload", True), ("rep_payload", True), ("verify_pairs", True)
    ]

    probes, probe = [], P.has_duplicate_id_rows

    def probe_spy(ids):
        probes.append(ids)
        return probe(ids)

    monkeypatch.setattr(P, "has_duplicate_id_rows", probe_spy)
    calls.clear()
    forced_fallback = DedupPipeline(spark, CFG.with_(broadcast_key_limit=0))
    b = forced_fallback.run(corpus.drop("file_seq")).orderBy("file_id").toPandas()
    pd.testing.assert_frame_equal(a, b)
    # one shuffle-hash reps stage serves both attaches
    assert sorted(calls) == [("rep_payload", False), ("verify_pairs", False)]
    # the probe prefetched before the decision is the one the fallback's
    # reps stage consumes: it runs once, and its result is read
    assert len(probes) == 1


def test_verify_broadcast_gated_by_measured_pair_count(spark, monkeypatch):
    """Verify broadcasts two side rows per candidate pair, and a family of
    near-duplicates has more pairs than rep keys: with a limit that holds
    the rep keys but not twice the pairs, the payload attaches stay
    broadcast, verify takes its shuffle-hash join, and the clusters equal
    the all-broadcast run's."""
    import datasketches_rust_spark.plans.pipeline as P

    base = " ".join(f"tok{i}" for i in range(400))
    rows = [
        (f"org/r{i}", f"src/f{i}.py", f"{i:040x}", "python", base + f" unique_{i}")
        for i in range(12)
    ] + [
        (f"org/u{i}", f"src/u{i}.py", f"{i:040x}", "python",
         " ".join(f"zz{i}_{j}" for j in range(400)))
        for i in range(4)
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    calls, n_pairs = [], []
    for name in ("rep_payload", "verify_pairs"):
        def spy(*args, _orig=getattr(P, name), _name=name, **kw):
            calls.append((_name, kw["broadcast"]))
            if _name == "verify_pairs":
                n_pairs.append(args[0].count())
            return _orig(*args, **kw)

        monkeypatch.setattr(P, name, spy)
    n_keys = len(rows)
    out = []
    for limit in (CFG.broadcast_key_limit, n_keys):
        calls.clear()
        out.append(
            DedupPipeline(spark, CFG.with_(broadcast_key_limit=limit))
            .run(corpus)
            .orderBy("file_id")
            .toPandas()
        )
    assert n_keys < 2 * n_pairs[-1] and n_pairs[0] == n_pairs[-1] == 66
    assert sorted(calls) == [
        ("rep_payload", True), ("rep_payload", True), ("verify_pairs", False)
    ]
    pd.testing.assert_frame_equal(*out)
    assert out[0].cluster_id.nunique() == 1 + 4  # the family and 4 controls
