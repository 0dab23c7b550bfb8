"""The benchmark's workloads, each a closed loop over the package's public API.

Every workload function takes a :class:`Ctx` and returns a dict with

* ``setup_s``   — an :class:`Interval` per set-up repetition (the last
                  set-up is kept and measured; the earlier ones are torn
                  down);
* ``e2e``       — the four end-to-end metrics every workload reports
                  (``throughput_per_s``, ``latency_ms``, ``driver_rss_mb``;
                  ``setup_s`` is added by ``run.py``);
* ``detail``    — workload-specific metrics as (value, unit);
* ``samples``   — the timed operations' durations;
* ``ops``       — an :class:`Ops` counting the operations and checks
                  attempted and those that raised or failed their check;
* ``checks``    — name -> outcome of each correctness gate;
* ``layers``    — per-layer numbers, filled in traced runs only.

Inputs come only from the seed; the program sees only the generated data.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import traceback
from collections import Counter

import numpy as np

from suggest_spark.functions.analysis import tokenize
from suggest_spark.functions.metrics import COSINE, JACCARD
from suggest_spark.linkage import blocking, checkpoint, pipeline
from suggest_spark.linkage.scoring import overlap_py
from suggest_spark.operators import service, suggest, versioned
from suggest_spark.serving import replica
from suggest_spark.sources.synth import cars_synth, make_pages, url_id_py

from ledger import percentile

#: set-up repetitions per run (``setup_s`` is their median): linkage set-up
#: is input generation only; a serve set-up builds an index and a replica
LINKAGE_SETUP_REPS = 3
SERVE_SETUP_REPS = 2

# linkage: make_pages(LINKAGE_ENTITIES, dup_rate=1.5) is ~2.5 pages/entity
LINKAGE_ENTITIES = 2000
LINKAGE_ALPHA = 0.7
#: every page of the first entities goes into the exhaustive F1 oracle
LINKAGE_SAMPLE_ENTITIES = 150

# serve: one DISC entry over cars_synth(DICT_SIZE) (words.dict is 235,887
# entries; this size keeps a run within its time budget)
DICT_SIZE = 20_000
SERVE_METRIC = COSINE
SERVE_ALPHA = 0.5
SERVE_K = 5
#: Spark tier: full coalescer groups until the half ends, and at least
#: MIN_BATCHES (the first batch of a JVM runs ~35 % slower than the next,
#: and the median of three leaves it out), then LONE_CALLS lone calls
BATCH = 256
MIN_BATCHES = 3
LONE_CALLS = 1
#: first-batch queries checked against the exhaustive scorer
ORACLE_SAMPLE = 24
#: writer: docs per upsert, of which UPSERT_REPLACED replace an existing
#: doc_id and the rest are new ids
UPSERT_DOCS = 100
UPSERT_REPLACED = 20
MAX_UPSERTS = 64
#: values of every upsert read back right after it returns
VISIBILITY_READS = 10
AUTOCOMPLETE_SHARE = 0.1
#: queries compared between the hot replica and the Spark path at the end
PARITY_SAMPLE = 24

STAGE_LAYER = {
    "records": "linkage.pipeline.build_records",
    "pairs": "linkage.blocking.candidate_pairs",
    "matches": "linkage.scoring.score_pairs",
    "clusters": "linkage.clustering.connected_components",
}


class Ctx:
    """Per-run state shared by the workloads."""

    def __init__(self, spark, work: str, seed: int, seconds: float, ledger=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.ledger = ledger
        self._n = 0
        #: (phase name, perf_counter at its start), in order
        self.phases: list[tuple[str, float]] = []

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{prefix}{self._n}")

    def phase(self, name: str) -> None:
        self.phases.append((name, time.perf_counter()))
        if self.ledger is not None:
            self.ledger.phase = name


def driver_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmRSS missing from /proc/self/status")


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot, summed
    over its CPUs, from /proc/stat: busy is user + nice + system + irq +
    softirq; steal is time the hypervisor ran another guest on a CPU this
    machine wanted."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks
    return (user + nice + system + irq + softirq) / hz, steal / hz


class Interval:
    """Times a ``with`` block: ``wall`` seconds, plus the machine's busy and
    steal CPU seconds over it.

    On a shared host the hypervisor takes CPUs away for seconds at a time
    (steal), and wall time stretches by (busy + steal) / busy.  ``net``
    undoes that stretch: it is the wall time with the stolen share taken
    out, the figure the same work gives on a host that steals nothing."""

    def __enter__(self):
        self._t0, self._c0 = time.perf_counter(), host_cpu()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        c1 = host_cpu()
        self.busy, self.steal = c1[0] - self._c0[0], c1[1] - self._c0[1]
        return False

    @property
    def net(self) -> float:
        return self.wall * self.busy / (self.busy + self.steal) if self.busy > 0 else self.wall


def steal_share(spans: list[Interval]) -> float:
    """Stolen share of the CPU time the machine wanted over ``spans``."""
    busy = sum(i.busy for i in spans)
    steal = sum(i.steal for i in spans)
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum and marker files
    excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def misspell(rng: np.random.RandomState, s: str) -> str:
    """One seeded edit inside ``s``: substitution, deletion or transposition."""
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


def _resolved(ctx: Ctx):
    """The run's ledger with every span closed and its metrics read back."""
    ctx.ledger.flush()
    ctx.ledger.resolve()
    return ctx.ledger


def median_setup(reps: int, setup, teardown):
    """Run ``setup`` ``reps`` times, tearing down all but the last; returns
    (per-rep Interval, last state)."""
    times, state = [], None
    for _ in range(reps):
        if state is not None:
            teardown(state)
        with Interval() as iv:
            state = setup()
        times.append(iv)
    return times, state


class Ops:
    """Counts timed operations and failures; keeps the first error."""

    def __init__(self):
        self.n = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def record(self, ok: bool, error: str | None = None) -> None:
        with self._lock:
            self.n += 1
            if not ok:
                self.failed += 1
                if error and len(self.errors) < 5:
                    self.errors.append(error)


# -- linkage -------------------------------------------------------------------


def install_linkage(ledger) -> None:
    ledger.wrap(pipeline, "run_linkage", "linkage.pipeline.run_linkage", spark=True)
    ledger.wrap(checkpoint.CheckpointedPipeline, "run_stage",
                lambda a, k: STAGE_LAYER[a[1]], spark=True)
    ledger.wrap(blocking, "encode_records", "linkage.blocking.encode_records", lazy=True)
    ledger.wrap(checkpoint, "_content_checksum", "linkage.checkpoint.run_stage", spark=True)
    ledger.wrap(checkpoint, "_file_metrics", "linkage.checkpoint.run_stage", spark=True)


def linkage(ctx: Ctx) -> dict:
    spark = ctx.spark
    cfg = pipeline.LinkageConfig(metric=JACCARD, alpha=LINKAGE_ALPHA)

    def one_pass(pages):
        """run_linkage into a fresh checkpoint dir, url_clusters to the noop
        sink (jobs/linkage_job.py writes it to parquet)."""
        ckpt = ctx.fresh_dir("ckpt")
        res = pipeline.run_linkage(spark, pages, cfg, ckpt)
        res["url_clusters"].write.format("noop").mode("overwrite").save()
        return res, ckpt

    def stage_rows(res) -> dict:
        return {e["stage"]: e["rows"] for e in res["_pipeline"].events}

    def setup():
        pages = make_pages(spark, LINKAGE_ENTITIES, dup_rate=1.5, seed=ctx.seed).persist()
        return pages, pages.count()

    ctx.phase("setup")
    setup_s, (pages, n_pages) = median_setup(
        LINKAGE_SETUP_REPS, setup, lambda st: st[0].unpersist()
    )
    rss = driver_rss_mb()
    ctx.phase("warmup")
    # cold pass (JIT, codegen, Python workers), not timed; the timed passes
    # must repeat its stage row counts
    t0 = time.perf_counter()
    res, ckpt = one_pass(pages)
    warmup_s = time.perf_counter() - t0
    expect_rows = stage_rows(res)
    shutil.rmtree(ckpt, ignore_errors=True)

    ctx.phase("timed")
    ops = Ops()
    passes, manifests = [], []
    res = prev_ckpt = None
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        try:
            with Interval() as iv:
                res, ckpt = one_pass(pages)
        except Exception:
            ops.record(False, traceback.format_exc())
            continue
        passes.append(iv)
        rows = stage_rows(res)
        ops.record(rows == expect_rows, f"stage rows {rows} != cold pass {expect_rows}")
        manifests.append(_read_manifests(ckpt))
        if prev_ckpt is not None:
            shutil.rmtree(prev_ckpt, ignore_errors=True)
        prev_ckpt = ckpt

    ctx.phase("check")
    checks = {}
    out = {"setup_s": setup_s, "checks": checks, "ops": ops}
    if res is None:
        return out
    checks["passes_ok"] = ops.failed == 0
    n_clusters = res["clusters"].select("cluster_id").distinct().count()
    f1 = _linkage_f1(pages, res["matches"], cfg)
    checks["pairwise_f1_ge_0.99"] = f1["f1"] >= 0.99
    ops.record(checks["pairwise_f1_ge_0.99"], f"sample F1 {f1}")

    rows = stage_rows(res)
    pass_s = statistics.median(iv.net for iv in passes)
    wall_s = statistics.median(iv.wall for iv in passes)
    out["e2e"] = {
        "throughput_per_s": n_pages / pass_s,
        "latency_ms": pass_s * 1e3,
        "driver_rss_mb": rss,
    }
    out["detail"] = {
        "pages": (n_pages, "count"),
        "pages_per_s": (out["e2e"]["throughput_per_s"], "1/s"),
        "pass_p50_s": (pass_s, "s"),
        "pass_wall_p50_s": (wall_s, "s"),
        "pages_per_wall_s": (n_pages / wall_s, "1/s"),
        "pass_busy_cpu_s": (statistics.median(iv.busy for iv in passes), "s"),
        "steal_share": (steal_share(passes), "ratio"),
        "passes": (len(passes), "count"),
        "matches": (rows["matches"], "count"),
        "clusters": (n_clusters, "count"),
        "sample_f1": (f1["f1"], "ratio"),
        "sample_oracle_pairs": (f1["oracle_pairs"], "count"),
        "warmup_pass_s": (warmup_s, "s"),
    }
    out["samples"] = {"pass_wall_s": [iv.wall for iv in passes],
                      "pass_busy_cpu_s": [iv.busy for iv in passes],
                      "pass_steal_cpu_s": [iv.steal for iv in passes]}
    if ctx.ledger is not None:
        out["layers"] = _linkage_layers(ctx, res, rows, n_clusters, manifests, cfg)
    return out


def _read_manifests(ckpt: str) -> dict:
    """Per stage: (wall_sec, bytes written) from its _MANIFEST.json."""
    out = {}
    for stage in STAGE_LAYER:
        with open(os.path.join(ckpt, stage, checkpoint.MANIFEST)) as f:
            m = json.load(f)
        out[stage] = (m["wall_sec"], sum(p["bytes"] for p in m["partitions"]))
    return out


def _linkage_f1(pages, matches, cfg) -> dict:
    """Pairwise F1 of the pipeline's matches against the exhaustive Python
    oracle over every page of the first LINKAGE_SAMPLE_ENTITIES entities."""
    from pyspark.sql import functions as F

    sample = (
        pages.where(F.col("entity_id") < LINKAGE_SAMPLE_ENTITIES).select("url", "text").collect()
    )
    toks = {url_id_py(r["url"]): tokenize(r["text"]) for r in sample}
    rids = sorted(toks)
    oracle = set()
    for i, ra in enumerate(rids):
        ta = toks[ra]
        for rb in rids[i + 1:]:
            tb = toks[rb]
            if ta and tb:
                sim = cfg.metric.similarity_py(overlap_py(ta, tb), len(ta), len(tb))
                if sim >= cfg.alpha:
                    oracle.add((ra, rb))
    got = {
        (bytes(r["rid_a"]), bytes(r["rid_b"]))
        for r in matches.select("rid_a", "rid_b").collect()
    }
    got = {p for p in got if p[0] in toks and p[1] in toks}
    tp, fp, fn = len(oracle & got), len(got - oracle), len(oracle - got)
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"f1": f1, "tp": tp, "fp": fp, "fn": fn, "oracle_pairs": len(oracle)}


def _linkage_layers(ctx, res, rows, n_clusters, manifests, cfg) -> dict:
    """Per-layer numbers per timed pass, plus the blocking funnel
    (records -> prefix keys -> raw candidate rows -> pairs -> matches ->
    clusters) counted on the last pass's records."""
    enc = blocking.encode_records(res["records"]).persist()
    delta_max = res["delta_max"]
    prefix_keys = blocking.prefix_keys(enc, cfg.metric, cfg.alpha, delta_max=delta_max).count()
    raw_pairs = blocking.candidate_pairs(
        enc, cfg.metric, cfg.alpha, dedup=False, delta_max=delta_max
    ).count()
    enc.unpersist()
    led = _resolved(ctx)
    layers = {name: led.layer(name, "timed", per=len(manifests)) for name in
              ["linkage.pipeline.run_linkage", *STAGE_LAYER.values(),
               "linkage.blocking.encode_records", "linkage.checkpoint.run_stage"]}
    layers["linkage.pipeline.build_records"]["rows"] = rows["records"]
    cp = layers["linkage.blocking.candidate_pairs"]
    cp.update(prefix_keys=prefix_keys, raw_pairs=raw_pairs, pairs=rows["pairs"])
    layers["linkage.scoring.score_pairs"].update(
        matches=rows["matches"], match_ratio=rows["matches"] / max(rows["pairs"], 1)
    )
    layers["linkage.clustering.connected_components"].update(
        clusters=n_clusters, star_rounds=len(res["cluster_rounds"])
    )
    ck = layers["linkage.checkpoint.run_stage"]
    for stage in STAGE_LAYER:
        ck[f"{stage}_wall_s"] = statistics.median(m[stage][0] for m in manifests)
    ck["write_mb"] = statistics.median(sum(b for _, b in m.values()) for m in manifests) / 1e6
    return layers


# -- serve ---------------------------------------------------------------------


class Scorer:
    """Exhaustive Python scorer with the reference's semantics: ``tokenize``
    grams, multiset overlap, the size window and T-occurrence count filter,
    ``similarity_py``, then score desc / doc_id asc.  Every entry sharing a
    gram with the query is scored; an entry sharing none has overlap 0 and
    cannot pass a count filter with T >= 1."""

    def __init__(self, values: list[str], metric, alpha: float, k: int):
        self.values, self.metric, self.alpha, self.k = values, metric, alpha, k
        self.sizes = []
        self.postings: dict[str, list[tuple[int, int]]] = {}
        for doc, v in enumerate(values):
            terms = tokenize(v)
            self.sizes.append(len(terms))
            for t, m in Counter(terms).items():
                self.postings.setdefault(t, []).append((doc, m))

    def score(self, query: str):
        """(top-k [(score, value)], join_rows, candidates) — join_rows is the
        posting-join output the Spark plan aggregates (Σ overlap over entries
        inside the size window), candidates the entries passing the count
        filter."""
        terms = tokenize(query)
        a = len(terms)
        if a == 0:
            return [], 0, 0
        lo = max(self.metric.min_y_py(self.alpha, a), 1)
        hi = self.metric.max_y_py(self.alpha, a)
        overlap: Counter = Counter()
        for t, mq in Counter(terms).items():
            for doc, md in self.postings.get(t, ()):
                if lo <= self.sizes[doc] <= hi:
                    overlap[doc] += mq * md
        hits = []
        for doc, ov in overlap.items():
            b = self.sizes[doc]
            t = self.metric.threshold_py(self.alpha, a, b)
            if 1 <= t <= min(a, b) and ov >= t:
                hits.append((-self.metric.similarity_py(ov, a, b), doc))
        hits.sort()
        top = [(-s, self.values[d]) for s, d in hits[: self.k]]
        return top, sum(overlap.values()), len(hits)


def _same(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        gv == wv and abs(gs - ws) < 1e-9 for (gs, gv), (ws, wv) in zip(got, want)
    )


def install_serve(ledger) -> None:
    def n_postings(span, args, kwargs, result):
        span["counts"]["n_postings"] = result.n_postings

    def written(span, args, kwargs, result):
        touched = result.get("sizes_touched", result.get("buckets_touched")) or []
        data = f"{args[1]}/v={result['version']}"
        span["counts"]["write_bytes"] = dir_bytes(data) if touched else 0
        span["counts"]["partitions"] = len(touched)

    svc = service.SuggestService
    # set-up: only the "hot" entry's build and warm-up (the "spark" entry
    # re-opens the same index)
    ledger.wrap(svc, "add_disc_index", lambda a, k: "operators.service.add_disc_index"
                if k.get("rebuild", True) else None, spark=True)
    ledger.wrap(versioned, "write_versioned_index",
                "operators.indexing.build_ngram_index", spark=True)
    ledger.wrap(svc, "warm", lambda a, k: "operators.service.warm" if a[1] == "hot" else None,
                spark=True)
    ledger.wrap(replica.HotReplica, "from_frames", "serving.replica.from_frames",
                spark=True, after=n_postings)
    # Spark tier: lone calls are spanned by the suggest wrapper; replica
    # reads (entry "hot") stay free of job-group calls
    ledger.wrap(svc, "suggest",
                lambda a, k: "operators.service.suggest" if a[1] == "spark" else None,
                spark=True)
    ledger.wrap(svc, "suggest_batch", lambda a, k: "operators.service.suggest_batch"
                if a[1] == "spark" and len(a[2]) > 1 else None, spark=True)
    ledger.wrap(suggest, "suggest_topk", "operators.suggest.suggest_topk", lazy=True)
    # replica tier
    ledger.wrap(replica.HotReplica, "suggest", "serving.replica.suggest")
    ledger.wrap(replica.HotReplica, "autocomplete", "serving.replica.autocomplete")
    ledger.wrap(replica.HotReplica, "patched", "serving.replica.patched")
    ledger.wrap(replica, "tokenize", "functions.analysis.tokenize")
    ledger.wrap(svc, "upsert_disc_index", "operators.service.upsert_disc_index", spark=True)
    ledger.wrap(versioned, "upsert_versioned_index",
                "operators.versioned.upsert_versioned_index", spark=True, after=written)
    ledger.wrap(versioned, "upsert_versioned_bucketed_table",
                "operators.versioned.upsert_versioned_bucketed_table",
                spark=True, after=written)
    ledger.wrap(versioned, "gc_versions", "operators.versioned.gc_versions")


def serve(ctx: Ctx) -> dict:
    """Set-up registers a DISC entry "hot" over cars_synth(DICT_SIZE) as
    jobs/http_service_job.warm_service does (add_disc_index, warm,
    enable_hot_replica); ``setup_s`` times that.  Then the same index is
    re-opened as entry "spark", warmed and without replica.  The timed phase
    has two halves of ``seconds / 2``:

    1. Spark tier — one caller sends BATCH-query ``suggest_batch`` calls,
       then LONE_CALLS lone ``suggest`` calls, on "spark";
    2. replica tier — a reader thread issues lone reads on "hot" (90 %
       ``suggest``, 10 % ``autocomplete``) while a writer thread runs
       back-to-back UPSERT_DOCS-doc ``upsert_disc_index`` calls; the half
       ends when the writer finishes its last upsert.
    """
    spark = ctx.spark
    rng = np.random.RandomState(ctx.seed)

    def setup():
        # cars_synth continues one seeded sequence: the values past DICT_SIZE
        # are unique and absent from the dictionary, so they feed the upserts
        values = cars_synth(DICT_SIZE + MAX_UPSERTS * UPSERT_DOCS, ctx.seed)
        d = spark.createDataFrame(list(enumerate(values[:DICT_SIZE])),
                                  "doc_id long, value string")
        svc = service.SuggestService(spark)
        path = ctx.fresh_dir("disc")
        svc.add_disc_index("hot", d, path)
        svc.warm("hot", metrics=[SERVE_METRIC])
        svc.enable_hot_replica("hot")
        return svc, d, path, values[:DICT_SIZE], values[DICT_SIZE:]

    ctx.phase("setup")
    setup_s, (svc, d, path, values, extra) = median_setup(
        SERVE_SETUP_REPS, setup, lambda state: state[0].remove("hot")
    )
    svc.add_disc_index("spark", d, path, rebuild=False)
    svc.warm("spark", metrics=[SERVE_METRIC])
    rss = driver_rss_mb()

    queries = [misspell(rng, values[rng.randint(len(values))]) for _ in range(4096)]
    reads = []
    for _ in range(4096):
        v = values[rng.randint(len(values))]
        if rng.rand() < AUTOCOMPLETE_SHARE:
            reads.append(("autocomplete", v[: 3 + rng.randint(5)]))
        else:
            reads.append(("suggest", misspell(rng, v)))
    replace_pool = rng.permutation(len(values)).tolist()

    def delta(u: int) -> list[tuple[int, str]]:
        """The u-th upsert: UPSERT_REPLACED existing ids get new values, the
        rest are new ids."""
        ids = [replace_pool.pop() for _ in range(UPSERT_REPLACED)]
        ids += [DICT_SIZE + u * UPSERT_DOCS + j for j in range(UPSERT_DOCS - UPSERT_REPLACED)]
        return list(zip(ids, extra[u * UPSERT_DOCS:(u + 1) * UPSERT_DOCS]))

    ctx.phase("warmup")
    # warm-up upsert, not timed: the first upsert of an entry also creates
    # its bucketed dictionary sibling; the timed ones are steady-state
    upserted = delta(0)
    t0 = time.perf_counter()
    svc.upsert_disc_index("hot", spark.createDataFrame(upserted, "doc_id long, value string"))
    warmup_upsert_s = time.perf_counter() - t0
    ops = Ops()

    # -- 1. Spark tier
    ctx.phase("spark_tier")
    batch_iv, lone_iv, lone_answers = [], [], []
    qi = 0

    def call(fn, qs):
        try:
            with Interval() as iv:
                out = fn(qs)
        except Exception:
            ops.record(False, traceback.format_exc())
            return None, None
        ops.record(len(out) == len(qs), f"{len(out)} results for {len(qs)} queries")
        return out, iv

    batch = lambda qs: svc.suggest_batch("spark", qs, SERVE_METRIC, SERVE_ALPHA, SERVE_K)
    lone = lambda qs: [svc.suggest("spark", qs[0], SERVE_METRIC, SERVE_ALPHA, SERVE_K)]
    first_batch = None
    sent = 0
    deadline = time.perf_counter() + ctx.seconds / 2
    while sent < MIN_BATCHES or time.perf_counter() < deadline:
        qs = [queries[(qi + j) % len(queries)] for j in range(BATCH)]
        qi += BATCH
        sent += 1
        out, iv = call(batch, qs)
        if iv is not None:
            batch_iv.append(iv)
            first_batch = first_batch or list(zip(qs, out))
    for q in (queries[(qi + j) % len(queries)] for j in range(LONE_CALLS)):
        out, iv = call(lone, [q])
        if iv is not None:
            lone_iv.append(iv)
            lone_answers.append((q, out[0]))

    # -- 2. replica tier with writes
    ctx.phase("replica_tier")
    read_s, upsert_s = [], []
    done = threading.Event()

    def read_one(kind: str, q: str):
        if kind == "suggest":
            return svc.suggest("hot", q, SERVE_METRIC, SERVE_ALPHA, SERVE_K)
        return svc.autocomplete("hot", q, SERVE_K)

    def visible(v: str) -> bool:
        return v in [val for _, val in read_one("suggest", v)]

    def reader():
        i = 0
        while not done.is_set():
            kind, q = reads[i % len(reads)]
            i += 1
            t0 = time.perf_counter()
            try:
                out = read_one(kind, q)
            except Exception:
                ops.record(False, traceback.format_exc())
                continue
            read_s.append(time.perf_counter() - t0)
            ops.record(isinstance(out, list) and len(out) <= SERVE_K)

    def writer():
        try:
            u = 1
            deadline = time.perf_counter() + ctx.seconds / 2
            while time.perf_counter() < deadline and u < MAX_UPSERTS:
                rows = delta(u)
                docs = spark.createDataFrame(rows, "doc_id long, value string")
                t0 = time.perf_counter()
                try:
                    svc.upsert_disc_index("hot", docs)
                except Exception:
                    ops.record(False, traceback.format_exc())
                    return
                upsert_s.append(time.perf_counter() - t0)
                ops.record(True)
                upserted.extend(rows)
                # a read issued after the upsert returned must see its values
                for _, v in rows[:: UPSERT_DOCS // VISIBILITY_READS]:
                    ops.record(visible(v), f"upserted value {v!r} not visible")
                u += 1
        finally:
            done.set()

    threads = [threading.Thread(target=reader, name="reader"),
               threading.Thread(target=writer, name="writer")]
    with Interval() as replica_iv:
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    ctx.phase("check")
    checks = {}
    out = {"setup_s": setup_s, "checks": checks, "ops": ops}
    if not (batch_iv and lone_iv and read_s and upsert_s):
        return out
    # Spark tier against the exhaustive scorer: part of the first batch and
    # every lone call
    scorer = Scorer(values, SERVE_METRIC, SERVE_ALPHA, SERVE_K)
    sample = first_batch[:ORACLE_SAMPLE] + lone_answers
    bad = [q for q, got in sample if not _same(got, scorer.score(q)[0])]
    checks["spark_tier_equals_oracle"] = not bad
    ops.record(not bad, f"oracle mismatch on {bad[:3]}")

    missing = [v for _, v in upserted if not visible(v)]
    checks["every_upsert_visible"] = not missing
    ops.record(not missing, f"{len(missing)} upserted values not visible")

    # the post-upsert snapshot opened without hot state answers on the Spark
    # path; the replica must agree with it
    svc.add_disc_index("check", d, path, rebuild=False)
    probe = [q for kind, q in reads[: 2 * PARITY_SAMPLE] if kind == "suggest"][:PARITY_SAMPLE]
    probe += [v for _, v in upserted[:: max(1, len(upserted) // 8)]]
    prefixes = [q for kind, q in reads if kind == "autocomplete"][:8]
    parity = all(
        _same(h, c) for h, c in zip(
            svc.suggest_batch("hot", probe, SERVE_METRIC, SERVE_ALPHA, SERVE_K),
            svc.suggest_batch("check", probe, SERVE_METRIC, SERVE_ALPHA, SERVE_K),
        )
    ) and svc.autocomplete_batch("hot", prefixes, SERVE_K) == svc.autocomplete_batch(
        "check", prefixes, SERVE_K)
    checks["replica_equals_spark_path"] = parity
    ops.record(parity, "replica answers differ from the Spark path")

    spark_queries = BATCH * len(batch_iv) + len(lone_iv)
    spark_calls = batch_iv + lone_iv
    # the replica tier's reads share one Interval: a read is shorter than a
    # tick of /proc/stat
    read_net = replica_iv.net / replica_iv.wall
    out["e2e"] = {
        "throughput_per_s": BATCH / statistics.median(iv.net for iv in batch_iv),
        "latency_ms": statistics.mean(read_s) * read_net * 1e3,
        "driver_rss_mb": rss,
    }
    out["detail"] = {
        "dict_entries": (len(values), "count"),
        "batch_queries_per_s": (out["e2e"]["throughput_per_s"], "1/s"),
        "batch_queries_per_wall_s": (BATCH / statistics.median(iv.wall for iv in batch_iv),
                                     "1/s"),
        "spark_queries_per_s": (spark_queries / sum(iv.net for iv in spark_calls), "1/s"),
        "spark_tier_steal_share": (steal_share(spark_calls), "ratio"),
        "batch_p50_s": (statistics.median(iv.net for iv in batch_iv), "s"),
        "batches": (len(batch_iv), "count"),
        "lone_p50_s": (statistics.median(iv.net for iv in lone_iv), "s"),
        "lone_calls": (len(lone_iv), "count"),
        "read_mean_wall_ms": (statistics.mean(read_s) * 1e3, "ms"),
        "read_p50_ms": (statistics.median(read_s) * read_net * 1e3, "ms"),
        "read_p99_ms": (percentile(read_s, 99) * read_net * 1e3, "ms"),
        "replica_tier_steal_share": (steal_share([replica_iv]), "ratio"),
        "reads": (len(read_s), "count"),
        "upsert_p50_s": (statistics.median(upsert_s), "s"),
        "upserted_docs_per_s": (UPSERT_DOCS * len(upsert_s) / sum(upsert_s), "1/s"),
        "upserts": (len(upsert_s), "count"),
        "oracle_checked_queries": (len(sample), "count"),
        "warmup_upsert_s": (warmup_upsert_s, "s"),
    }
    out["samples"] = {"batch_wall_s": [iv.wall for iv in batch_iv],
                      "lone_wall_s": [iv.wall for iv in lone_iv], "upsert_s": upsert_s}
    if ctx.ledger is not None:
        out["layers"] = _serve_layers(ctx, scorer, first_batch, upserted, path)
    return out


def _serve_layers(ctx, scorer, first_batch, upserted, path) -> dict:
    led = _resolved(ctx)
    layers = {
        name: led.layer(name, "setup")
        for name in ["operators.service.add_disc_index", "operators.indexing.build_ngram_index",
                     "operators.service.warm", "serving.replica.from_frames"]
    }
    layers["operators.indexing.build_ngram_index"]["postings"] = (
        versioned.read_versioned_index(ctx.spark, path,
                                       versioned.read_manifest(ctx.spark, path, 1)).count()
    )
    ff = layers["serving.replica.from_frames"]
    ff["n_postings"] = ff.get("n_postings", 0) / max(ff["calls"], 1)

    for name in ["operators.service.suggest_batch", "operators.service.suggest"]:
        layers[name] = led.layer(name, "spark_tier")
    # the posting-join funnel of the first batch, from the exhaustive scorer
    topk = led.layer("operators.suggest.suggest_topk", "spark_tier",
                     parent="operators.service.suggest_batch")
    join_rows = candidates = 0
    for q, _ in first_batch:
        _, j, c = scorer.score(q)
        join_rows += j
        candidates += c
    results = sum(len(r) for _, r in first_batch)
    topk.update(join_rows=join_rows, candidates=candidates, results=results,
                result_ratio=results / max(join_rows, 1))
    layers["operators.suggest.suggest_topk"] = topk

    for name in ["functions.analysis.tokenize", "serving.replica.suggest",
                 "serving.replica.autocomplete", "serving.replica.patched",
                 "operators.service.upsert_disc_index", "operators.versioned.gc_versions",
                 "operators.versioned.upsert_versioned_index",
                 "operators.versioned.upsert_versioned_bucketed_table"]:
        layers[name] = led.layer(name, "replica_tier")
    delta_bytes = statistics.median(
        sum(8 + len(v.encode()) for _, v in upserted[i:i + UPSERT_DOCS])
        for i in range(0, len(upserted), UPSERT_DOCS)
    )
    for name in ["operators.versioned.upsert_versioned_index",
                 "operators.versioned.upsert_versioned_bucketed_table"]:
        row = layers[name]
        per_call = row.get("write_bytes", 0) / max(row["calls"], 1)
        row["write_mb"] = per_call / 1e6
        row["partitions"] = row.get("partitions", 0) / max(row["calls"], 1)
        row["write_amp"] = per_call / delta_bytes
    return layers


WORKLOADS = {
    "linkage": (linkage, install_linkage),
    "serve": (serve, install_serve),
}
