"""Record-linkage pipeline tests: blocking recall, scoring parity, connected
components, checkpoint/resume, and the pairwise-F1 north-rule criterion."""

import os
from collections import Counter

import pytest
from conftest import _job_group, _rdd_names
from pyspark.sql import functions as F

from suggest_spark.functions.analysis import tokenize
from suggest_spark.functions.metrics import COSINE, JACCARD
from suggest_spark.linkage import checkpoint
from suggest_spark.linkage.blocking import candidate_pairs
from suggest_spark.linkage.clustering import connected_components
from suggest_spark.linkage.pipeline import (
    LinkageConfig,
    build_records,
    pairwise_f1,
    run_linkage,
)
from suggest_spark.linkage.scoring import jaro_winkler_py, overlap_py, score_pairs
from suggest_spark.sources.synth import (
    extract_text,
    labeled_pairs_pdf,
    make_pages,
    make_pages_pdf,
    url_id_py,
)

ALPHA = 0.7
N_ENTITIES = 120


@pytest.fixture(scope="module")
def pages(spark):
    df = make_pages(spark, N_ENTITIES, dup_rate=1.2, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_pdf():
    return make_pages_pdf(N_ENTITIES, dup_rate=1.2, seed=42)


def test_pages_deterministic():
    a = make_pages_pdf(50, seed=42)
    b = make_pages_pdf(50, seed=42)
    assert a.equals(b)
    c = make_pages_pdf(50, seed=43)
    assert not a["text"].equals(c["text"])


def test_extract_text_byte_identical(spark, pages):
    # per-row invariant (BASELINE.json input_hint): extracted text from html
    # must be byte-identical to the text column, per url
    bad = pages.where(extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0


def _oracle_labels(pages_pdf, alpha, metric):
    """Reference-semantics match decisions via the pure-Python oracle
    (tokenizer + metric formulas golden-tested against Go fixtures)."""
    lab = labeled_pairs_pdf(pages_pdf)
    text_of = dict(zip(pages_pdf["url"], pages_pdf["text"]))
    out = []
    for r in lab.itertuples():
        ta, tb = tokenize(text_of[r.url_a]), tokenize(text_of[r.url_b])
        ov = overlap_py(ta, tb)
        sim = metric.similarity_py(ov, len(ta), len(tb)) if ta and tb else 0.0
        out.append((r.url_a, r.url_b, 1 if sim >= alpha else 0))
    return out


def test_end_to_end_f1(spark, pages, pages_pdf, tmp_path_factory):
    """North-rule criterion: pipeline matches == reference-semantics oracle
    decisions on labeled pairs (F1 must be ~1.0 >= 0.99)."""
    cp_dir = str(tmp_path_factory.mktemp("linkage_cp"))
    cfg = LinkageConfig(metric=JACCARD, alpha=ALPHA)
    res = run_linkage(spark, pages, cfg, cp_dir)

    oracle = _oracle_labels(pages_pdf, ALPHA, JACCARD)
    labeled = spark.createDataFrame(oracle, "url_a string, url_b string, is_match int")
    m = pairwise_f1(res["matches"], labeled, res["records"])
    assert m["f1"] >= 0.99, m
    # with identical formulas the agreement should be exact
    assert m["fp"] == 0 and m["fn"] == 0, m


def test_blocking_recall_exhaustive(spark, pages, pages_pdf):
    """Every pair with sim >= alpha (over ALL pairs, not just labeled ones)
    must be produced by prefix blocking — recall check of the prefix filter
    + length filter against a brute-force oracle."""
    sub = pages_pdf.head(150)
    texts = list(zip(sub["url"], sub["text"]))
    toks = {u: tokenize(t) for u, t in texts}
    expected = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            ua, ub = texts[i][0], texts[j][0]
            ta, tb = toks[ua], toks[ub]
            if not ta or not tb:
                continue
            sim = JACCARD.similarity_py(overlap_py(ta, tb), len(ta), len(tb))
            if sim >= ALPHA:
                ra, rb = sorted((url_id_py(ua), url_id_py(ub)))
                expected.add((ra, rb))

    sub_df = spark.createDataFrame(sub)
    records = build_records(sub_df, LinkageConfig(metric=JACCARD, alpha=ALPHA))
    got = {
        (r["rid_a"], r["rid_b"])
        for r in candidate_pairs(records, JACCARD, ALPHA).collect()
    }
    missing = expected - got
    assert not missing, f"blocking missed {len(missing)} true pairs"


def test_scoring_matches_python_oracle(spark, pages, pages_pdf):
    sub = pages_pdf.head(60)
    sub_df = spark.createDataFrame(sub)
    cfg = LinkageConfig(metric=COSINE, alpha=0.5)
    records = build_records(sub_df, cfg).cache()
    pairs = candidate_pairs(records, COSINE, 0.5)
    scored = score_pairs(pairs, records, COSINE, 0.5).collect()
    rid_text = {r["rid"]: r["text"] for r in records.collect()}
    assert len(scored) > 0
    for r in scored:
        ta, tb = tokenize(rid_text[r["rid_a"]]), tokenize(rid_text[r["rid_b"]])
        ov = overlap_py(ta, tb)
        assert r["overlap"] == ov
        assert abs(r["sim"] - COSINE.similarity_py(ov, len(ta), len(tb))) < 1e-15
        assert 0.0 <= r["jw"] <= 1.0
        assert r["lev"] >= 0


def test_jaro_winkler_known_values():
    # classic published examples
    assert jaro_winkler_py("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler_py("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-3)
    assert jaro_winkler_py("abc", "abc") == 1.0
    assert jaro_winkler_py("abc", "xyz") == 0.0
    assert jaro_winkler_py("", "abc") == 0.0


def _cc_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize(
    "edges",
    [
        [("b", "a"), ("c", "b"), ("d", "c")],  # chain
        [("a", "b"), ("a", "c"), ("a", "d")],  # star
        [("a", "b"), ("c", "d"), ("e", "f"), ("f", "g")],  # forest
        [("x", "y")],  # single edge
        [("a", "b"), ("b", "c"), ("c", "a"), ("p", "q")],  # cycle + extra
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)],  # long chain
    ],
)
def test_connected_components(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["rid"]: r["cluster_id"] for r in connected_components(df).collect()}
    want = _cc_oracle(edges)
    assert got == want
    # the size-gated driver union-find path must agree exactly
    fast = {
        r["rid"]: r["cluster_id"]
        for r in connected_components(df, n_edges=len(edges)).collect()
    }
    assert fast == want


def test_connected_components_driver_path_binary_ids(spark):
    """Driver union-find on BINARY(16) rids (the production id type):
    bytearray→bytes hashing and byte-order minima must match the
    distributed star rounds."""
    from suggest_spark.sources.synth import url_id_py

    ids = [url_id_py(f"u{i}") for i in range(12)]
    edges = [(ids[i], ids[i + 1]) for i in range(5)] + [
        (ids[7], ids[8]),
        (ids[8], ids[9]),
        (ids[10], ids[11]),
    ]
    df = spark.createDataFrame(edges, "src binary, dst binary")
    slow = {
        bytes(r["rid"]): bytes(r["cluster_id"])
        for r in connected_components(df).collect()
    }
    fast = {
        bytes(r["rid"]): bytes(r["cluster_id"])
        for r in connected_components(df, n_edges=len(edges)).collect()
    }
    assert fast == slow
    assert len(fast) == 11  # 6-node chain + 3-node chain + 2-node edge


@pytest.mark.parametrize(
    "id_type,ids,n_edges",
    [
        ("string", [f"n{i:02d}" for i in range(6)], 3),
        ("long", [40, 7, 12, 3, 99, 5], 3),
        ("binary", [url_id_py(f"u{i}") for i in range(6)], 3),
        ("binary", [], 0),
    ],
)
def test_driver_unionfind_id_types(spark, id_type, ids, n_edges):
    """The Arrow round trip of the driver union-find keeps every id type
    and its ordering: component minima equal the oracle's.  An empty edge
    set gives an empty, typed result."""
    edges = [(ids[0], ids[1]), (ids[2], ids[1]), (ids[3], ids[4])] if n_edges else []
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    out = connected_components(df, n_edges=len(edges))
    assert out.schema["rid"].dataType == df.schema["src"].dataType
    assert out.schema["cluster_id"].dataType == df.schema["src"].dataType
    norm = bytes if id_type == "binary" else (lambda x: x)
    got = {norm(r["rid"]): norm(r["cluster_id"]) for r in out.collect()}
    assert got == _cc_oracle(edges)


@pytest.mark.parametrize("n_edges", [4, 0])
def test_driver_unionfind_starts_no_python_rdd(spark, n_edges):
    """Edges in and clusters out through Arrow: no job of the union-find
    path, nor of reading its result, runs a Python RDD (a Python worker) —
    the empty edge set included."""
    import pandas as pd

    sc = spark.sparkContext
    ids = [url_id_py(f"p{i}") for i in range(5)]
    # a pandas frame goes through Arrow, so the edges hold no Python RDD
    edges = spark.createDataFrame(
        pd.DataFrame({"src": ids[:4], "dst": ids[1:]}), "src binary, dst binary"
    ).limit(n_edges)
    group = f"uf_python_rdd_probe_{n_edges}"
    with _job_group(sc, group):
        # control: a row-list createDataFrame does run a Python RDD, so the
        # probe can see one
        spark.createDataFrame([(1,)], "x long").collect()
    assert "PythonRDD" in _rdd_names(sc, group)

    group = f"uf_driver_path_{n_edges}"
    with _job_group(sc, group):
        rows = connected_components(edges, n_edges=n_edges).collect()
    assert len(rows) == (5 if n_edges else 0)
    assert {bytes(r["cluster_id"]) for r in rows} <= {min(ids)}
    names = _rdd_names(sc, group)
    assert "PythonRDD" not in names, names


#: Spark jobs of one warm run_linkage pass on the fixture, as measured; a
#: higher count means a per-stage audit job, a schema-inference read or a
#: Python-RDD job has come back
WARM_PASS_MAX_JOBS = 29


def test_warm_pass_job_budget(spark, pages, tmp_path_factory):
    sc = spark.sparkContext
    cfg = LinkageConfig(metric=JACCARD, alpha=ALPHA)
    run_linkage(spark, pages, cfg, str(tmp_path_factory.mktemp("budget_cold")))
    with _job_group(sc, "linkage_warm_pass"):
        res = run_linkage(spark, pages, cfg, str(tmp_path_factory.mktemp("budget_warm")))
        res["url_clusters"].write.format("noop").mode("overwrite").save()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("linkage_warm_pass"))
    assert n_jobs <= WARM_PASS_MAX_JOBS, n_jobs


def test_jaro_winkler_runs_on_rebalanced_survivors(spark, pages):
    """The Arrow Jaro-Winkler stage reads the rebalanced survivor set, so
    AQE sizes it by survivor bytes instead of inheriting the scoring join's
    partitioning."""
    cfg = LinkageConfig(metric=JACCARD, alpha=ALPHA)
    records = build_records(pages, cfg)
    matches = score_pairs(candidate_pairs(records, JACCARD, ALPHA), records, JACCARD, ALPHA)
    matches.collect()
    plan = matches._jdf.queryExecution().executedPlan().toString().splitlines()
    at = next(i for i, line in enumerate(plan) if "ArrowEvalPython" in line)
    below = [line for line in plan[at + 1:] if "Exchange" in line and "BroadcastExchange" not in line]
    assert below and "REBALANCE_PARTITIONS_BY_NONE" in below[0], "\n".join(plan)


def _old_audit(df, path):
    """The audit as three separate passes: count(), a whole-table hash sum
    and a grouped per-file row count."""
    rows = df.count()
    checksum = int(
        df.select(
            F.coalesce(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0))
        ).first()[0]
    )
    per_file = {
        os.path.basename(r[0]): r[1]
        for r in df.groupBy(F.input_file_name()).count().collect()
    }
    files = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
    return rows, checksum, {f: per_file.get(f, 0) for f in files}


@pytest.mark.parametrize("n_rows", [0, 500])
def test_one_job_audit_equals_separate_passes(spark, tmp_path, n_rows):
    path = str(tmp_path / "t")
    src = spark.range(n_rows).select(
        F.col("id"),
        (F.col("id") * 7919 % 101).cast("string").alias("s"),
        F.array(F.col("id"), F.col("id") + 1).alias("a"),
    )
    src.repartition(3).write.parquet(path)
    df = spark.read.schema(src.schema).parquet(path)
    rows_by_file, checksum = checkpoint._content_checksum(df)
    parts = checkpoint._file_metrics(path, rows_by_file)
    old_rows, old_checksum, old_per_file = _old_audit(df, path)
    assert sum(rows_by_file.values()) == old_rows == n_rows
    assert checksum == old_checksum
    assert {p["file"]: p["rows"] for p in parts} == old_per_file
    if n_rows:
        assert sum(1 for v in old_per_file.values() if v) == 3


def test_linkage_with_zero_matches(spark, tmp_path):
    """No two pages share enough grams: the empty match set goes through the
    empty-edge union-find and every record is its own singleton cluster."""
    words = ["quartz", "bicycle", "lemonade", "typhoon", "zeppelin", "marmot"]
    pages_df = spark.createDataFrame(
        [(f"https://site.example/p/{i}", w) for i, w in enumerate(words)],
        "url string, text string",
    )
    res = run_linkage(spark, pages_df, LinkageConfig(metric=JACCARD, alpha=ALPHA), str(tmp_path))
    events = {e["stage"]: e["rows"] for e in res["_pipeline"].events}
    assert events["matches"] == 0
    assert events["clusters"] == len(words)
    clusters = res["clusters"].collect()
    assert all(r["rid"] == r["cluster_id"] for r in clusters)
    assert res["url_clusters"].count() == len(words)


def test_clusters_match_entities(spark, pages, pages_pdf, tmp_path_factory):
    """Cluster quality vs ground-truth entities (informational threshold:
    typo variants at 1-2 edits with Jaccard 0.7 blocking+matching should
    recover most entities; exactness vs the reference semantics is asserted
    by test_end_to_end_f1)."""
    cp_dir = str(tmp_path_factory.mktemp("linkage_cp2"))
    cfg = LinkageConfig(metric=JACCARD, alpha=0.5)
    res = run_linkage(spark, pages, cfg, cp_dir)
    clusters = res["url_clusters"].collect()
    cluster_of = {r["url"]: r["cluster_id"] for r in clusters}
    ent_of = dict(zip(pages_pdf["url"], pages_pdf["entity_id"]))
    assert set(cluster_of) == set(ent_of)
    # every url assigned exactly once
    assert len(clusters) == len(pages_pdf)


def test_checkpoint_resume(spark, pages, tmp_path_factory):
    cp_dir = str(tmp_path_factory.mktemp("linkage_resume"))
    cfg = LinkageConfig(metric=JACCARD, alpha=ALPHA)

    res1 = run_linkage(spark, pages, cfg, cp_dir)
    n_matches_1 = res1["matches"].count()
    events1 = res1["_pipeline"].events
    assert all(not e["skipped"] for e in events1)

    # resume: all stages skip, results identical
    res2 = run_linkage(spark, pages, cfg, cp_dir)
    events2 = res2["_pipeline"].events
    assert all(e["skipped"] for e in events2), events2
    assert res2["matches"].count() == n_matches_1

    # changed config → full recompute
    cfg2 = LinkageConfig(metric=JACCARD, alpha=0.5)
    res3 = run_linkage(spark, pages, cfg2, cp_dir)
    assert all(not e["skipped"] for e in res3["_pipeline"].events)

    # crash mid-`matches` (stage output written, manifest never committed —
    # exactly what a mid-stage process kill leaves behind, since the write
    # goes to a temp dir and the manifest is the last file written before
    # the atomic rename): only the unfinished stage re-runs
    import json

    with open(os.path.join(cp_dir, "matches", "_MANIFEST.json")) as f:
        checksum_before = json.load(f)["checksum"]
    os.remove(os.path.join(cp_dir, "matches", "_MANIFEST.json"))
    res4 = run_linkage(spark, pages, cfg2, cp_dir)
    skipped = {e["stage"]: e["skipped"] for e in res4["_pipeline"].events}
    assert skipped["records"] and skipped["pairs"]
    assert not skipped["matches"]
    # recomputed stage is bit-identical (content checksum equal) ...
    with open(os.path.join(cp_dir, "matches", "_MANIFEST.json")) as f:
        assert json.load(f)["checksum"] == checksum_before
    # ... so the downstream stage's lineage still matches and it SKIPS —
    # checksum-lineage recovery, not blind re-run of everything downstream
    assert skipped["clusters"]
