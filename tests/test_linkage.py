"""Record-linkage pipeline tests: blocking recall, scoring parity, connected
components, checkpoint/resume, and the pairwise-F1 north-rule criterion."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from suggest_spark.functions.analysis import tokenize
from suggest_spark.functions.metrics import COSINE, JACCARD
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


def test_fused_matches_equals_unfused(spark, pages):
    # the single-stage fused path (bench/scaling hot path) must produce
    # EXACTLY the rows of candidate_pairs(dedup=False) → score_pairs(
    # dedup_pairs=True), for both join strategies
    from suggest_spark.linkage.blocking import encode_records
    from suggest_spark.linkage.scoring import fused_matches

    cfg = LinkageConfig(metric=JACCARD, alpha=ALPHA)
    records = build_records(pages, cfg).cache()
    encoded = encode_records(records).cache()
    pairs = candidate_pairs(encoded, JACCARD, ALPHA, dedup=False)
    want = {
        (r["rid_a"], r["rid_b"], r["overlap"], r["size_a"], r["size_b"], r["sim"])
        for r in score_pairs(
            pairs, records, JACCARD, ALPHA, dedup_pairs=True, encoded=encoded
        ).collect()
    }
    assert want
    for bk in (False, True):
        got = {
            (r["rid_a"], r["rid_b"], r["overlap"], r["size_a"], r["size_b"], r["sim"])
            for r in fused_matches(
                encoded, records, JACCARD, ALPHA, broadcast_keys=bk
            ).collect()
        }
        assert got == want


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
