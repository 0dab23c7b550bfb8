"""IVF probe-depth auto-tuner (round-4 verdict #6): pick n_probe from a
held-out sample at build time so recall targets hold on BOTH cluster-heavy
and structure-free corpora, and record the measured curve in the index
stats."""

import pytest

from pyspark.sql import functions as F

from suggest_spark.operators import ann
from suggest_spark.sources.synth import make_clustered_embeddings

TARGET = 0.9
K = 5
N_QUERIES = 40


def _recall_at(spark, corpus, centroids, n_probe):
    """Independent recall measurement: exact vs ivf_topk result sets on the
    same hash-ordered sample the tuner used."""
    sample = (
        corpus.orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
    )
    exact, got = {}, {}
    for r in ann.cosine_topk(sample, corpus, K).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rows = ann.ivf_topk(
        sample, corpus, K, n_probe=n_probe, dim=64, centroids=centroids
    ).collect()
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    return hits / sum(len(v) for v in exact.values())


@pytest.fixture(scope="module")
def clustered(spark):
    c = (
        make_clustered_embeddings(spark, 3000, dim=64, n_clusters=16, noise=0.5, seed=7)
        .select("vec_id", "embedding")
        .cache()
    )
    c.count()
    return c


@pytest.fixture(scope="module")
def uniform(spark):
    u = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .limit(2000)
        .cache()
    )
    u.count()
    return u


def test_tuner_hits_target_on_clustered_fixture(spark, clustered):
    cents = ann.train_ivf_centroids(clustered, 16, 64, n_iters=4, seed=7)
    stats = ann.tune_n_probe(
        clustered, cents, k=K, target_recall=TARGET, n_queries=N_QUERIES
    )
    assert stats["achieved_recall"] >= TARGET
    # clustered data concentrates neighbors: the tuner exploits it instead
    # of probing everything
    assert stats["n_probe"] < 16
    # the tuner's prediction is the real recall: an independent ivf_topk run
    # at the chosen depth reproduces it on the same sample
    assert _recall_at(spark, clustered, cents, stats["n_probe"]) == pytest.approx(
        stats["achieved_recall"], abs=1e-9
    )
    # measured curve is monotone and exhaustive at full probe depth
    curve = [stats["recall_by_n_probe"][str(p)] for p in range(1, 17)]
    assert curve == sorted(curve) and curve[-1] == 1.0


def test_tuner_hits_target_on_uniform_fixture(spark, uniform):
    """Structure-free embeddings are ANN's worst case — the honest answer is
    a DEEP probe, and the tuner must find it rather than under-probe."""
    cents = ann.train_ivf_centroids(uniform, 16, 64, n_iters=3, seed=11)
    stats = ann.tune_n_probe(
        uniform, cents, k=K, target_recall=TARGET, n_queries=N_QUERIES
    )
    assert stats["achieved_recall"] >= TARGET
    assert _recall_at(spark, uniform, cents, stats["n_probe"]) == pytest.approx(
        stats["achieved_recall"], abs=1e-9
    )


def test_tuning_sample_ignores_id_locality(spark):
    """On a corpus whose ids run cluster by cluster, the lowest ids are one
    cluster; the tuner's sample is not that block and spans clusters."""
    from pyspark.sql import Window

    raw = make_clustered_embeddings(spark, 1200, dim=8, n_clusters=12, seed=3)
    by_cluster = raw.select(
        (F.row_number().over(Window.orderBy("cluster", "vec_id")) - 1).alias("vec_id"),
        "cluster",
        "embedding",
    ).cache()
    lowest = by_cluster.orderBy("vec_id").limit(N_QUERIES).collect()
    assert len({r["cluster"] for r in lowest}) == 1  # the fixture is id-clustered

    first = ann._tuning_sample(by_cluster, N_QUERIES, "vec_id").collect()
    again = ann._tuning_sample(by_cluster, N_QUERIES, "vec_id").collect()
    ids = [r["vec_id"] for r in first]
    assert ids == [r["vec_id"] for r in again]  # deterministic
    assert len(set(ids)) == N_QUERIES
    assert sorted(ids) != list(range(N_QUERIES))
    assert len({r["cluster"] for r in first}) >= 6
    by_cluster.unpersist()


def test_write_ivf_records_stats_and_probe_uses_them(spark, clustered, tmp_path):
    cents = ann.train_ivf_centroids(clustered, 16, 64, n_iters=4, seed=7)
    path = str(tmp_path / "ivf")
    stats = ann.write_ivf(
        clustered, path, cents, target_recall=TARGET, k=K, n_queries=N_QUERIES
    )
    assert stats is not None and stats["achieved_recall"] >= TARGET
    assert ann.read_ivf_stats(spark, path)["n_probe"] == stats["n_probe"]
    q = clustered.orderBy("vec_id").limit(10).withColumnRenamed("vec_id", "query_id")
    tuned = ann.ivf_probe_topk(spark, path, q, K, cents, n_probe=None)
    explicit = ann.ivf_probe_topk(spark, path, q, K, cents, n_probe=stats["n_probe"])
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(key, tuned.collect())) == sorted(map(key, explicit.collect()))
