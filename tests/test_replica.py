"""Hot serving replica (serving/replica.py): the in-driver snapshot must be
ROW-IDENTICAL to the Spark suggest/autocomplete operators — scores, order,
tie-breaks, multiset duplicate-gram semantics, value resolution — across
every metric and mixed alphas.  The replica is only allowed to exist because
it is provably the same function (round-4 verdict's top item: millisecond
lone-request serving, reference ngram_index_test.go:112-139 parity)."""

from collections import Counter

import numpy as np
import pytest

from suggest_spark.config import DEFAULT_CONFIG
from suggest_spark.functions.metrics import METRICS
from suggest_spark.operators.indexing import build_ngram_index
from suggest_spark.operators.service import SuggestService
from suggest_spark.operators.suggest import autocomplete_firstk, suggest_topk
from suggest_spark.serving.replica import HotReplica

MULTISET_VALS = [
    "kamaz kaliri",  # duplicate '$ka' after normalize (multiset overlap)
    "kamazmoliri",
    "kamaz kamaz",  # heavy duplication
    "lada kalina",
    "toyota corolla",
    "лада веста",  # Cyrillic through the same alphabet chain
    "лада калина",
]
MULTISET_QUERIES = ["kamazmoliri", "kamaz kal", "kamaz kamaz", "lada", "лада к"]


def _misspell(rng, s):
    chars = list(s)
    i = rng.randint(1, max(2, len(chars) - 1))
    op = rng.randint(3)
    if op == 0:
        chars[i] = "abcdefghijklmnopqrstuvwxyz"[rng.randint(26)]
    elif op == 1:
        del chars[i]
    else:
        chars[i], chars[i - 1] = chars[i - 1], chars[i]
    return "".join(chars)


def _spark_suggest(spark, index, d, query, metric, alpha, k):
    q = spark.createDataFrame([(0, query)], "query_id long, query string")
    return [
        (r["score"], r["value"])
        for r in suggest_topk(
            index, q, metric, alpha, k, DEFAULT_CONFIG, dictionary=d
        ).collect()
    ]


def _spark_autocomplete(spark, index, d, query, k):
    q = spark.createDataFrame([(0, query)], "query_id long, query string")
    return [
        r["value"]
        for r in autocomplete_firstk(index, q, k, DEFAULT_CONFIG, dictionary=d).collect()
    ]


@pytest.fixture(scope="module")
def multiset_setup(spark):
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    index = build_ngram_index(d, config=DEFAULT_CONFIG).cache()
    index.count()
    replica = HotReplica.from_frames(index, d, DEFAULT_CONFIG)
    return d, index, replica


def test_replica_suggest_parity_all_metrics_multiset(spark, multiset_setup):
    d, index, replica = multiset_setup
    checked = matched = 0
    for metric in METRICS.values():
        for alpha in (0.3, 0.5, 0.8):
            for q in MULTISET_QUERIES:
                want = _spark_suggest(spark, index, d, q, metric, alpha, 4)
                got = replica.suggest(q, metric, alpha, 4)
                assert got == want, f"{metric.name} alpha={alpha} q={q!r}"
                checked += 1
                matched += bool(want)
    assert checked == len(METRICS) * 3 * len(MULTISET_QUERIES)
    assert matched > 20, "fixture must exercise non-empty results"


def test_replica_autocomplete_parity(spark, multiset_setup):
    d, index, replica = multiset_setup
    for q in ["kamaz", "lada", "лада", "toy", "zzz", ""]:
        want = _spark_autocomplete(spark, index, d, q, 3)
        assert replica.autocomplete(q, 3) == want, q


def test_replica_parity_misspelled_sweep(spark):
    """Wider randomized sweep on a synthetic dictionary: one Spark batch per
    metric and alpha vs per-query replica answers — exact score/order
    equality.  The extreme alphas pin the replica's count floor: 0.1 widens
    Overlap's MAX_INT16 size window (clipped at the largest size) to every
    doc, and 1.0 makes the threshold the size itself."""
    from suggest_spark.sources.synth import cars_synth

    vals = cars_synth(300)
    d = spark.createDataFrame(list(enumerate(vals)), "doc_id long, value string")
    index = build_ngram_index(d, config=DEFAULT_CONFIG).cache()
    index.count()
    replica = HotReplica.from_frames(index, d, DEFAULT_CONFIG)
    rng = np.random.RandomState(5)
    queries = [(_misspell(rng, vals[rng.randint(len(vals))])) for _ in range(40)]
    qdf = spark.createDataFrame(
        list(enumerate(queries)), "query_id long, query string"
    )
    for metric in METRICS.values():
        for alpha in (0.1, 0.5, 0.9, 1.0):
            rows = suggest_topk(
                index, qdf, metric, alpha, 5, DEFAULT_CONFIG, dictionary=d
            ).collect()
            want = {}
            for r in rows:
                want.setdefault(r["query_id"], []).append((r["score"], r["value"]))
            for i, q in enumerate(queries):
                assert replica.suggest(q, metric, alpha, 5) == want.get(i, []), (
                    metric.name,
                    alpha,
                    q,
                )


def test_service_replica_end_to_end_and_mutator_patch(spark, tmp_path):
    """Service integration: enable_hot_replica serves identical results to
    the Spark path; a small upsert PATCHES the replica in O(delta) — serving
    stays on the millisecond path and answers the post-upsert truth with no
    window of pre-mutation results."""
    from suggest_spark.functions.metrics import JACCARD

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_disc_index("cars", d, str(tmp_path / "idx"))

    golden_s = svc.suggest("cars", "kamaz kal", JACCARD, 0.3, 4)
    golden_a = svc.autocomplete("cars", "lada", 3)
    info = svc.enable_hot_replica("cars")
    assert info["n_postings"] > 0
    assert svc._entries["cars"].replica is not None
    assert svc.suggest("cars", "kamaz kal", JACCARD, 0.3, 4) == golden_s
    assert svc.autocomplete("cars", "lada", 3) == golden_a

    new = spark.createDataFrame([(9, "kamaz kaloric")], "doc_id long, value string")
    svc.upsert_disc_index("cars", new)
    patched = svc._entries["cars"].replica
    assert patched is not None  # mutator patched it, serving stays hot
    post = svc.suggest("cars", "kamaz kaloric", JACCARD, 0.5, 2)
    assert post and post[0][1] == "kamaz kaloric"
    # the patched replica must be indistinguishable from a fresh snapshot of
    # the POST-upsert state (and the answer above came FROM the replica)
    assert patched.suggest("kamaz kaloric", JACCARD, 0.5, 2) == post
    svc.enable_hot_replica("cars")
    rebuilt = svc._entries["cars"].replica
    assert rebuilt is not patched
    assert rebuilt.n_postings == patched.n_postings
    assert svc.suggest("cars", "kamaz kaloric", JACCARD, 0.5, 2) == post


def test_service_upsert_drops_hot_state_over_bound(spark, tmp_path):
    """A delta larger than max_hot_delta declines the patch: the mutator
    falls back to dropping the replica (never serves pre-upsert rows)."""
    from suggest_spark.functions.metrics import JACCARD

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_disc_index("cars", d, str(tmp_path / "idx"))
    svc.enable_hot_replica("cars")
    new = spark.createDataFrame(
        [(20, "gazel next"), (21, "kamaz master")], "doc_id long, value string"
    )
    svc.upsert_disc_index("cars", new, max_hot_delta=1)
    assert svc._entries["cars"].replica is None
    post = svc.suggest("cars", "gazel next", JACCARD, 0.5, 2)
    assert post and post[0][1] == "gazel next"


def test_service_upsert_patches_value_map(spark, tmp_path):
    """warm()'s value map survives a small upsert patched to the post-upsert
    dictionary: replaced, deleted and added docs all resolve correctly on the
    broadcast-free batch path."""
    from suggest_spark.functions.metrics import JACCARD

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_disc_index("cars", d, str(tmp_path / "idx"))
    svc.warm("cars", metrics=[JACCARD])
    assert svc._entries["cars"].value_map is not None

    new = spark.createDataFrame(
        [(0, "kamaz replaced"), (9, "gazel next")], "doc_id long, value string"
    )
    dels = spark.createDataFrame([(3,)], "doc_id long")
    svc.upsert_disc_index("cars", new, deleted_ids=dels)
    vm = svc._entries["cars"].value_map
    assert vm is not None
    assert vm[0] == "kamaz replaced" and vm[9] == "gazel next" and 3 not in vm
    # the served answers resolve values through the patched map and agree
    # with the post-upsert dictionary truth
    got = svc.suggest("cars", "kamaz replaced", JACCARD, 0.5, 2)
    assert got and got[0][1] == "kamaz replaced"
    assert all(v != "lada kalina" for _, v in svc.suggest("cars", "lada kalina", JACCARD, 0.1, 7))


def test_warm_value_map_path_identical(spark):
    """warm() installs a driver-side value map; the Spark batch path without
    the dictionary broadcast must return identical (score, value) pairs."""
    from suggest_spark.functions.metrics import COSINE

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_ram_index("cars", d)
    golden = [svc.suggest("cars", q, COSINE, 0.4, 4) for q in MULTISET_QUERIES]
    timings = svc.warm("cars", metrics=[COSINE])
    assert set(timings) == {"autocomplete", "suggest_cosine"}
    assert svc._entries["cars"].value_map is not None
    assert [svc.suggest("cars", q, COSINE, 0.4, 4) for q in MULTISET_QUERIES] == golden


def _assert_size_sorted(replica):
    """Every posting list is ordered by (size, slot) — the order the
    LengthFilter searchsorted slice relies on (_replica_internals sorts
    before comparing, so it cannot see a list that lost this order) — and
    each entry's size is its slot's size."""
    for t, (s, slot) in replica._postings.items():
        assert (s.dtype, slot.dtype) == (np.int32, np.int32), t
        key = list(zip(s.tolist(), slot.tolist()))
        assert all(a <= b for a, b in zip(key, key[1:])), t
        assert (replica._slot_size[slot] == s).all(), t


def _replica_internals(replica):
    """Canonical (term -> sorted (size, doc, mult) triples) for equality:
    a doc's multiplicity in a term is how often its slot repeats there."""
    out = {}
    for t, (s, slot) in replica._postings.items():
        mult = Counter(zip(s.tolist(), replica._slot_doc[slot].tolist()))
        out[t] = sorted((size, doc, m) for (size, doc), m in mult.items())
    return out


def test_replica_patched_matches_from_scratch(spark):
    """patched() must be indistinguishable from a from-scratch from_frames
    build of the post-delta state: identical posting internals, identical
    n_postings, identical suggest/autocomplete answers across metrics —
    exercising replace (duplicate-gram value), delete, add (Cyrillic),
    upsert-beats-delete, and delete-of-unknown (no-op)."""
    base = spark.createDataFrame(
        list(enumerate(MULTISET_VALS)), "doc_id long, value string"
    )
    index = build_ngram_index(base, config=DEFAULT_CONFIG)
    parent = HotReplica.from_frames(index, base, DEFAULT_CONFIG)

    upserts = [
        (0, "kamaz kamaz kaliri"),  # replace, heavier duplicate grams
        (10, "газель некст"),  # add, Cyrillic
        (11, "uaz patriot"),  # add
        (4, "toyota camry"),  # in BOTH upserts and deletes: upsert wins
    ]
    deletes = [2, 4, 99]  # 99 unknown: no-op
    got = parent.patched(upserts, deletes)

    final = {i: v for i, v in enumerate(MULTISET_VALS)}
    for d in deletes:
        final.pop(d, None)
    for d, v in upserts:
        final[d] = v
    post = spark.createDataFrame(sorted(final.items()), "doc_id long, value string")
    want = HotReplica.from_frames(build_ngram_index(post, config=DEFAULT_CONFIG), post, DEFAULT_CONFIG)

    assert got.n_postings == want.n_postings
    assert _replica_internals(got) == _replica_internals(want)
    assert got._values == want._values
    for metric in METRICS.values():
        for q in MULTISET_QUERIES + ["газель", "uaz", "toyota camry"]:
            assert got.suggest(q, metric, 0.4, 5) == want.suggest(q, metric, 0.4, 5), (
                metric.name,
                q,
            )
    for q in ["kamaz", "газ", "ua", ""]:
        assert got.autocomplete(q, 3) == want.autocomplete(q, 3), q

    # the parent snapshot is untouched (immutability): deleted doc still
    # resolves, added doc absent
    assert parent._values.get(2) == MULTISET_VALS[2]
    assert 10 not in parent._values
    assert parent.n_postings == index.count()


def test_replica_patched_chain_and_empty_value(spark):
    """A chain of patches equals one from-scratch build; a value that
    tokenizes to nothing (empty string) indexes nothing but resolves."""
    base = spark.createDataFrame(
        list(enumerate(MULTISET_VALS)), "doc_id long, value string"
    )
    parent = HotReplica.from_frames(
        build_ngram_index(base, config=DEFAULT_CONFIG), base, DEFAULT_CONFIG
    )
    r1 = parent.patched([(7, "lada niva")], [0])
    r2 = r1.patched([(7, "lada niva travel"), (8, "")], [1])
    for r in (parent, r1, r2):
        _assert_size_sorted(r)

    final = {i: v for i, v in enumerate(MULTISET_VALS) if i not in (0, 1)}
    final[7] = "lada niva travel"
    final[8] = ""
    post = spark.createDataFrame(sorted(final.items()), "doc_id long, value string")
    want = HotReplica.from_frames(
        build_ngram_index(post, config=DEFAULT_CONFIG), post, DEFAULT_CONFIG
    )
    assert got_equal_internals(r2, want)
    assert r2._values[8] == ""
    for q in ("lada", "kamaz", ""):
        assert r2.autocomplete(q, 4) == want.autocomplete(q, 4)


def got_equal_internals(a, b):
    assert a.n_postings == b.n_postings
    assert _replica_internals(a) == _replica_internals(b)
    assert a._values == b._values
    return True


def test_replica_patched_respects_admitted_bound(spark):
    base = spark.createDataFrame(
        list(enumerate(MULTISET_VALS)), "doc_id long, value string"
    )
    index = build_ngram_index(base, config=DEFAULT_CONFIG)
    n = index.count()
    parent = HotReplica.from_frames(index, base, DEFAULT_CONFIG, max_postings=n + 3)
    with pytest.raises(ValueError, match="max_postings"):
        parent.patched([(50, "a long new value with many grams")], [])
    # a net-shrinking patch is always admissible
    shrunk = parent.patched([], [0])
    assert shrunk.n_postings < n and shrunk.max_postings == n + 3


def test_replica_patched_compacts_duplicate_doc_ids(spark):
    """A doc_id repeated within one batch is compacted last-wins: no
    orphaned postings from the earlier value (a later delete must remove
    EVERYTHING the doc ever indexed)."""
    base = spark.createDataFrame(
        list(enumerate(MULTISET_VALS)), "doc_id long, value string"
    )
    parent = HotReplica.from_frames(
        build_ngram_index(base, config=DEFAULT_CONFIG), base, DEFAULT_CONFIG
    )
    dup = parent.patched([(9, "gazel business"), (9, "uaz hunter")], [])
    single = parent.patched([(9, "uaz hunter")], [])
    assert got_equal_internals(dup, single)
    # the earlier value's grams never match anything after a delete
    gone = dup.patched([], [9])
    assert got_equal_internals(gone, parent)


def test_service_upsert_null_delete_id_keeps_hot_state(spark, tmp_path):
    """A null row in deleted_ids (a no-op for the left_anti join) must not
    crash the post-mutation patch: the swap happens and serving stays hot."""
    from suggest_spark.functions.metrics import JACCARD

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_disc_index("cars", d, str(tmp_path / "idx"))
    svc.warm("cars", metrics=[JACCARD])
    svc.enable_hot_replica("cars")
    new = spark.createDataFrame([(9, "gazel next")], "doc_id long, value string")
    dels = spark.createDataFrame([(None,), (3,)], "doc_id long")
    svc.upsert_disc_index("cars", new, deleted_ids=dels)
    e = svc._entries["cars"]
    assert e.replica is not None and e.value_map is not None
    assert e.value_map[9] == "gazel next" and 3 not in e.value_map
    got = svc.suggest("cars", "gazel next", JACCARD, 0.5, 2)
    assert got and got[0][1] == "gazel next"


def test_service_upsert_rejects_duplicate_and_null_ids(spark, tmp_path):
    """A batch repeating a doc_id (or carrying a null one) is out-of-contract
    — the dictionary union would store both rows and the index would double
    the doc's grams.  The upsert raises BEFORE anything durable changes, and
    serving (including the still-valid hot replica) is untouched."""
    from suggest_spark.functions.metrics import JACCARD

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_disc_index("cars", d, str(tmp_path / "idx"))
    svc.enable_hot_replica("cars")
    golden = svc.suggest("cars", "kamaz kal", JACCARD, 0.3, 4)
    dup = spark.createDataFrame(
        [(9, "gazel next"), (9, "gazel business")], "doc_id long, value string"
    )
    with pytest.raises(ValueError, match="unique non-null"):
        svc.upsert_disc_index("cars", dup)
    nul = spark.createDataFrame([(None, "ghost")], "doc_id long, value string")
    with pytest.raises(ValueError, match="unique non-null"):
        svc.upsert_disc_index("cars", nul)
    # nothing mutated: the replica still serves the (unchanged) truth
    assert svc._entries["cars"].replica is not None
    assert svc.suggest("cars", "kamaz kal", JACCARD, 0.3, 4) == golden


def test_service_upsert_honors_warm_value_map_bound(spark, tmp_path):
    """The value map patched across an upsert obeys the bound warm()
    admitted it under — a caller-capped map is dropped when the dictionary
    grows past the caller's cap, not the module default."""
    from suggest_spark.functions.metrics import JACCARD

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_disc_index("cars", d, str(tmp_path / "idx"))
    svc.warm("cars", metrics=[JACCARD], value_map_max_rows=len(MULTISET_VALS) + 1)
    assert svc._entries["cars"].value_map is not None
    grow = spark.createDataFrame(
        [(30, "gazel next"), (31, "uaz hunter")], "doc_id long, value string"
    )
    svc.upsert_disc_index("cars", grow)
    e = svc._entries["cars"]
    assert e.value_map is None  # over the caller's admitted bound: dropped
    got = svc.suggest("cars", "uaz hunter", JACCARD, 0.5, 2)
    assert got and got[0][1] == "uaz hunter"


def test_replica_patched_random_sweep(spark):
    """Seeded randomized sweep: arbitrary chains of replace/add/delete
    deltas (unicode values, overlapping upsert+delete, empty strings) must
    keep the patched replica bit-identical to a from-scratch build of the
    surviving dictionary — internals and answers."""
    from suggest_spark.functions.metrics import JACCARD

    rng = np.random.RandomState(17)
    pool = MULTISET_VALS + ["", "a", "kamaz", "газель next", "uaz 452", "x y z"]

    def rand_val():
        words = [pool[rng.randint(len(pool))] for _ in range(rng.randint(1, 3))]
        return " ".join(w for w in words if w) if any(words) else ""

    for round_i in range(5):
        n0 = rng.randint(3, 9)
        state = {i: rand_val() for i in range(n0)}
        base = spark.createDataFrame(sorted(state.items()), "doc_id long, value string")
        rep = HotReplica.from_frames(
            build_ngram_index(base, config=DEFAULT_CONFIG), base, DEFAULT_CONFIG
        )
        _assert_size_sorted(rep)
        for _ in range(3):  # chain of patches
            ups = [
                (int(rng.randint(0, 12)), rand_val()) for _ in range(rng.randint(0, 4))
            ]
            dels = [int(rng.randint(0, 12)) for _ in range(rng.randint(0, 3))]
            rep = rep.patched(ups, dels)
            _assert_size_sorted(rep)
            for d in set(dels) | {d for d, _ in ups}:
                state.pop(d, None)
            for d, v in ups:
                state[d] = v
        if state:
            post = spark.createDataFrame(
                sorted(state.items()), "doc_id long, value string"
            )
        else:
            post = spark.createDataFrame([], "doc_id long, value string")
        want = HotReplica.from_frames(
            build_ngram_index(post, config=DEFAULT_CONFIG), post, DEFAULT_CONFIG
        )
        assert got_equal_internals(rep, want), round_i
        for q in ("kamaz", "газель", "uaz 452", "a"):
            assert rep.suggest(q, JACCARD, 0.3, 5) == want.suggest(q, JACCARD, 0.3, 5)
            assert rep.autocomplete(q, 4) == want.autocomplete(q, 4)


def test_replica_refuses_oversized_index(spark):
    d = spark.createDataFrame(
        [(i, f"value number {i}") for i in range(50)], "doc_id long, value string"
    )
    index = build_ngram_index(d, config=DEFAULT_CONFIG)
    with pytest.raises(ValueError, match="max_postings"):
        HotReplica.from_frames(index, d, DEFAULT_CONFIG, max_postings=10)


def test_service_remove_releases_serving_state(spark):
    """remove(): the teardown counterpart of add_* — unregisters the entry
    and unpersists what warm() pinned, so benchmarks/shutdown don't reach
    into the registry internals."""
    from suggest_spark.functions.metrics import JACCARD

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_ram_index("cars", d)
    svc.warm("cars", metrics=[JACCARD])
    svc.enable_hot_replica("cars")
    entry = svc._entries["cars"]
    assert entry.index.is_cached and entry.dictionary.is_cached
    svc.remove("cars")
    assert svc.dictionaries() == []
    assert not entry.index.is_cached and not entry.dictionary.is_cached
    with pytest.raises(KeyError):
        svc.suggest("cars", "lada", JACCARD, 0.5, 3)
    with pytest.raises(KeyError):
        svc.remove("cars")


def test_http_routes_identical_with_replica_enabled(spark):
    """The HTTP front door must serve byte-identical JSON whether the entry
    answers via the Spark path or the hot replica (the service job enables
    replicas at boot — the route contract cannot depend on which tier
    answered)."""
    pytest.importorskip("flask")
    from suggest_spark.serving.http_api import create_app

    svc = SuggestService(spark)
    d = spark.createDataFrame(list(enumerate(MULTISET_VALS)), "doc_id long, value string")
    svc.add_ram_index("cars", d)
    app = create_app(svc)
    app.testing = True
    client = app.test_client()
    qs = {"metric": "Jaccard", "similarity": 0.4, "topK": 4}
    want_s = client.get("/suggest/cars/kamaz kal/", query_string=qs).get_json()
    want_a = client.get("/autocomplete/cars/lada/", query_string={"topK": 3}).get_json()
    assert want_s and want_a

    svc.enable_hot_replica("cars")
    got_s = client.get("/suggest/cars/kamaz kal/", query_string=qs)
    got_a = client.get("/autocomplete/cars/lada/", query_string={"topK": 3})
    assert got_s.status_code == 200 and got_s.get_json() == want_s
    assert got_a.status_code == 200 and got_a.get_json() == want_a
    # error mapping unchanged through the replica tier
    assert client.get("/suggest/nope/x/", query_string=qs).status_code == 500
    svc.remove("cars")


def test_replica_from_frames_posting_order(spark, multiset_setup):
    """from_frames stores each term's list sorted by (size, doc_id), on the
    duplicate-gram fixture and on a synthetic dictionary whose Spark
    aggregation hands rows over in arbitrary order."""
    from suggest_spark.sources.synth import cars_synth

    _assert_size_sorted(multiset_setup[2])
    vals = cars_synth(300)
    d = spark.createDataFrame(list(enumerate(vals)), "doc_id long, value string")
    replica = HotReplica.from_frames(build_ngram_index(d, config=DEFAULT_CONFIG), d)
    assert max(len(p[1]) for p in replica._postings.values()) > 50
    _assert_size_sorted(replica)


#: more candidates than k share the k-th score: 7 copies of the query value,
#: 10 copies of a near variant, plus near variants with distinct scores
TIE_VALS = ["nissan march"] * 7 + ["nissan marc"] * 10 + [
    "nissan marcha",
    "nissan mar",
    "nissan maxima",
    "nissan micra",
    "lada niva",
]
TIE_QUERIES = ["nissan march", "nissan marc", "nissan marcy", "nissan"]


@pytest.fixture(scope="module")
def tie_setup(spark):
    """TIE_VALS under shuffled (non-contiguous) doc_ids.  The index holds the
    plain values; the dictionary tags each value with its doc_id, so equal
    result rows also pin the order inside a tie."""
    ids = np.random.RandomState(3).permutation(100)[: len(TIE_VALS)].tolist()
    plain = spark.createDataFrame(list(zip(ids, TIE_VALS)), "doc_id long, value string")
    d = spark.createDataFrame(
        [(i, f"{v}#{i}") for i, v in zip(ids, TIE_VALS)], "doc_id long, value string"
    )
    index = build_ngram_index(plain, config=DEFAULT_CONFIG).cache()
    index.count()
    return d, index, HotReplica.from_frames(index, d, DEFAULT_CONFIG)


def test_replica_topk_ties_match_spark(spark, tie_setup):
    """The k-th score is shared by more candidates than fit: the replica's
    partition top-k must return exactly the Spark plan's rows — same scores,
    doc_id asc inside the tie — for every metric and several k."""
    d, index, replica = tie_setup
    qdf = spark.createDataFrame(
        list(enumerate(TIE_QUERIES)), "query_id long, query string"
    )
    cut_ties = 0
    for metric in METRICS.values():
        for alpha in (0.3, 0.7):
            for k in (3, 5, 9):
                rows = suggest_topk(
                    index, qdf, metric, alpha, k, DEFAULT_CONFIG, dictionary=d
                ).collect()
                want = {}
                for r in rows:
                    want.setdefault(r["query_id"], []).append((r["score"], r["value"]))
                for i, q in enumerate(TIE_QUERIES):
                    got = replica.suggest(q, metric, alpha, k)
                    assert got == want.get(i, []), (metric.name, alpha, k, q)
                    if len(got) == k:  # did the cut fall inside a tie?
                        ranked = replica.suggest(q, metric, alpha, len(TIE_VALS))
                        kth = got[-1][0]
                        cut_ties += sum(s == kth for s, _ in ranked) > sum(
                            s == kth for s, _ in got
                        )
    assert cut_ties > 20, "fixture must cut through ties at the k-th score"


def test_replica_autocomplete_more_matches_than_k(spark, tie_setup):
    """Autocomplete with more matching docs than k returns the k smallest
    doc_ids, like autocomplete_firstk."""
    d, index, replica = tie_setup
    for q, k in (("nissan", 4), ("nissan mar", 6), ("niss", 20)):
        want = _spark_autocomplete(spark, index, d, q, k)
        assert len(want) == k
        assert replica.autocomplete(q, k) == want, (q, k)


def test_replica_arbitrary_64bit_ids(spark):
    """doc_ids far from 0..n (2**62 + i, negatives) live in dense slots: the
    replica's answers equal the Spark path and a from-scratch build across a
    patch chain that adds, replaces and deletes.  A kernel that counted raw
    doc_ids could not even allocate its counter."""
    from suggest_spark.functions.metrics import JACCARD, OVERLAP

    big = 2**62
    state = {big + i: v for i, v in enumerate(MULTISET_VALS)}
    state[-7] = "kamaz kalina"
    base = spark.createDataFrame(sorted(state.items()), "doc_id long, value string")
    rep = HotReplica.from_frames(
        build_ngram_index(base, config=DEFAULT_CONFIG), base, DEFAULT_CONFIG
    )
    chain = [
        ([(big + 100, "kamaz kaliri"), (-3, "lada kamaz")], []),  # adds
        ([(-7, "kamaz kamaz kal"), (big + 2, "lada kalina")], [big + 1]),  # replace + delete
        ([(big + 1, "kamazmoliri")], [-3, big + 100]),  # re-add a deleted id
    ]
    queries = MULTISET_QUERIES + ["kamaz kalina", "lada kamaz"]
    qdf = spark.createDataFrame(list(enumerate(queries)), "query_id long, query string")
    for ups, dels in chain:
        rep = rep.patched(ups, dels)
        _assert_size_sorted(rep)
        for d in dels:
            state.pop(d, None)
        state.update(ups)
        post = spark.createDataFrame(sorted(state.items()), "doc_id long, value string")
        index = build_ngram_index(post, config=DEFAULT_CONFIG).cache()
        want = HotReplica.from_frames(index, post, DEFAULT_CONFIG)
        assert got_equal_internals(rep, want)
        for metric in (JACCARD, OVERLAP):
            spark_rows = {}
            for r in suggest_topk(
                index, qdf, metric, 0.3, 4, DEFAULT_CONFIG, dictionary=post
            ).collect():
                spark_rows.setdefault(r["query_id"], []).append((r["score"], r["value"]))
            for i, q in enumerate(queries):
                assert rep.suggest(q, metric, 0.3, 4) == spark_rows.get(i, []), (metric.name, q)
                assert want.suggest(q, metric, 0.3, 4) == spark_rows.get(i, []), (metric.name, q)
        for q in ("kamaz", "lada", "лада"):
            spark_rows = _spark_autocomplete(spark, index, post, q, 3)
            assert rep.autocomplete(q, 3) == want.autocomplete(q, 3) == spark_rows, q
        index.unpersist()
