"""In-driver hot serving replica: millisecond lone requests, reference parity.

The reference's flagship serving surface is per-query latency off a hot
in-process index (/root/reference/pkg/suggest/ngram_index_test.go:112-139
benches microseconds per lookup; internal/suggest/api/app.go:73-77 serves
it).  A Spark job's floor for one request is plan construction + scheduling
+ collect (~1-3 s on this driver even warm) — three orders of magnitude off.
The architecture the reference itself uses closes the gap: build the index
DISTRIBUTED (Spark — the only thing that works at corpus scale), then serve
lone requests from a compact in-process snapshot of it.

:class:`HotReplica` is that snapshot: one Arrow transfer of the entry's
``(term, size, doc_id, multiplicity)`` postings plus the ``(doc_id, value)``
dictionary at enable time, then a handful of numpy array operations per
request — no per-candidate Python:

* each term's posting list is stored sorted by ``(size, doc_id)`` (the
  reference's length segmentation, pkg/index/indices.go:3-14), so the
  LengthFilter window is a ``searchsorted`` slice, not a full-list mask;
* ScanCount is ``np.unique`` + ``np.bincount`` over the sliced lists;
* CountFilter and scoring are the metric's ``threshold_np`` /
  ``similarity_np`` forms under one boolean mask;
* top-k is ``np.partition`` (every tie at the k-th score kept) then a
  ``(score desc, doc_id asc)`` lexsort of the survivors.

It is NOT an independent implementation of the query semantics so much as a
re-expression of the exact same algebra the Spark plan runs
(operators/suggest.py):

* query grams come from the SAME :func:`~suggest_spark.functions.analysis.
  tokenize` chain (multiset — normalization can re-create duplicate grams);
* overlap is the SAME multiset ScanCount product Σ_t mult_q(t)·mult_d(t)
  (the Spark plan's join-then-count computes exactly this);
* candidate sizes respect the SAME ``size BETWEEN min_y(α,|q|) AND
  max_y(α,|q|)`` window, the SAME segment-validity + CountFilter predicate,
  and the SAME ``(score desc, doc_id asc)`` tie-break.

Tests (tests/test_replica.py) assert row-identical results against the
Spark operators over every metric, mixed alphas, Cyrillic duplicate-gram
fixtures, and misspelled sweeps — the replica is only allowed to exist
because it is provably the same function.

Scale boundary (honest): a replica holds one dictionary's postings in
driver memory — the serving tier for interactive dictionaries (the
reference's own regime: its whole engine is single-node RAM/mmap).  A
corpus-scale index (100 TB regime) stays on the Spark path, where the
request coalescer amortizes concurrency; ``enable_hot_replica`` refuses
above ``max_postings`` instead of OOM-ing the driver.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, IndexConfig
from ..functions.analysis import tokenize

#: refuse to collect more postings than this into the driver by default
#: (≈ 16 bytes/posting in numpy + python string keys; 20M ≈ a words.dict×8
#: dictionary ≈ well under 1 GiB driver RSS)
DEFAULT_MAX_POSTINGS = 20_000_000


class HotReplica:
    """Immutable in-driver snapshot of one (index, dictionary) pair.

    Construct via :meth:`from_frames`; query via :meth:`suggest` /
    :meth:`autocomplete` — both return exactly what the service's Spark
    batch path returns for a batch of one (same types, same ordering)."""

    def __init__(
        self,
        postings: dict,
        values: dict,
        config: IndexConfig,
        n_postings: int,
        max_postings: int = DEFAULT_MAX_POSTINGS,
    ):
        #: term -> (sizes int32[], doc_ids int64[], mults int32[]) — the
        #: posting list, multiplicity-annotated (multiset semantics), sorted
        #: by (size, doc_id): every constructor and mutator keeps that order,
        #: since the LengthFilter slice relies on it
        self._postings = postings
        self._values = values
        self.config = config
        self.n_postings = n_postings
        #: the driver-memory bound this replica was admitted under; patched
        #: successors enforce it too (a trickle of upserts must not grow a
        #: replica past what enable-time refused)
        self.max_postings = max_postings

    # -- construction --------------------------------------------------------

    @classmethod
    def from_frames(
        cls,
        index_df: DataFrame,
        dictionary: DataFrame,
        config: IndexConfig = DEFAULT_CONFIG,
        max_postings: int = DEFAULT_MAX_POSTINGS,
    ) -> "HotReplica":
        """One Arrow transfer of the postings + dictionary.  Raises
        ``ValueError`` above ``max_postings`` — the caller keeps the Spark
        path instead of OOM-ing the driver."""
        # bound-check BEFORE any driver transfer: the count is one metadata/
        # cache-cheap job, while toPandas() on an over-bound index is
        # exactly the driver OOM the bound exists to prevent
        n = index_df.count()  # index rows == postings (duplicates included)
        if n > max_postings:
            raise ValueError(
                f"index has {n} postings > max_postings={max_postings}; "
                "serve it on the Spark path (coalesced) instead of a replica"
            )
        agg = index_df.groupBy("term", "size", "doc_id").agg(
            F.count(F.lit(1)).cast("int").alias("mult")
        )
        pdf = agg.toPandas()  # Arrow batch transfer, not row-at-a-time collect
        pdf = pdf.sort_values("term", kind="mergesort", ignore_index=True)
        terms = pdf["term"].to_numpy()
        sizes = pdf["size"].to_numpy(np.int32)
        docs = pdf["doc_id"].to_numpy(np.int64)
        mults = pdf["mult"].to_numpy(np.int32)
        postings: dict = {}
        if len(terms):
            uniq, starts = np.unique(terms, return_index=True)
            bounds = np.append(starts, len(terms))
            for i, t in enumerate(uniq):
                s, e = bounds[i], bounds[i + 1]
                postings[t] = _size_sorted(sizes[s:e], docs[s:e], mults[s:e])
        vdf = dictionary.select("doc_id", "value").toPandas()
        values = dict(zip(vdf["doc_id"].tolist(), vdf["value"].tolist()))
        return cls(postings, values, config, n, max_postings=max_postings)

    # -- incremental maintenance ----------------------------------------------

    def patched(self, upserts, deleted_ids=()) -> "HotReplica":
        """New replica with ``upserts`` applied and ``deleted_ids`` removed —
        O(delta terms), zero Spark jobs, zero driver re-transfer.

        ``upserts`` is an iterable of ``(doc_id, value)`` (a doc_id already
        present is replaced; a doc_id repeated WITHIN the batch is compacted
        last-occurrence-wins, the CDC convention — the values map can hold
        one value per doc, so "both rows win" is unrepresentable here);
        ``deleted_ids`` an iterable of doc_ids.  A doc in both is replaced
        (delete applies first, mirroring ``upsert_versioned_index``'s
        drop-then-append).  The receiver is
        untouched (replicas are immutable snapshots — the caller swaps the
        result in atomically, exactly like the versioned index's
        manifest swap); untouched terms share their numpy arrays with the
        parent, so a trickle patch costs memory proportional to the delta.

        The old postings of a replaced/deleted doc are located by
        re-tokenizing its CURRENT dictionary value with the same
        :func:`~suggest_spark.functions.analysis.tokenize` chain the index
        build used (``ngram_terms_col`` ≡ ``tokenize``, hypothesis-tested in
        tests/test_properties.py) — the replica's values map IS the
        dictionary snapshot, so this is exact.  Contract (same as
        :meth:`from_frames`): every indexed doc resolves in the dictionary.
        A delete of an unknown doc_id is a no-op (idempotent, like the
        versioned upsert); an upsert of an unknown doc_id is an add.

        Raises ``ValueError`` when the result would exceed the
        ``max_postings`` bound this replica was admitted under — the caller
        falls back to the Spark path instead of growing the driver unbounded.
        """
        # compact duplicate doc_ids last-wins BEFORE computing postings:
        # appending both occurrences while the values map keeps only the
        # last would orphan the earlier value's grams forever (a later
        # delete re-tokenizes only the surviving value)
        ups = list({int(d): v for d, v in upserts}.items())
        up_ids = {d for d, _ in ups}
        removed = up_ids | {int(d) for d in deleted_ids}

        # terms whose posting lists lose rows, keyed by term -> doc_ids
        rm_by_term: dict[str, set] = {}
        n = self.n_postings
        for d in removed:
            v = self._values.get(d)
            if v is None:
                continue  # unknown / null-valued doc: nothing indexed for it
            for t in set(tokenize(v, self.config)):
                rm_by_term.setdefault(t, set()).add(d)

        # terms gaining rows, keyed by term -> [(doc_id, size, mult)]
        add_by_term: dict[str, list] = {}
        for d, v in ups:
            terms = tokenize(v, self.config) if v is not None else []
            size = len(terms)
            for t, m in Counter(terms).items():
                add_by_term.setdefault(t, []).append((d, size, m))
                n += m

        postings = dict(self._postings)  # shallow: untouched terms shared
        for t in set(rm_by_term) | set(add_by_term):
            cur = postings.get(t)
            if cur is not None:
                sizes, docs, mults = cur
                rmset = rm_by_term.get(t)
                if rmset:
                    keep = ~np.isin(docs, np.fromiter(rmset, np.int64, len(rmset)))
                    n -= int(mults[~keep].sum())
                    sizes, docs, mults = sizes[keep], docs[keep], mults[keep]
            else:
                sizes = np.empty(0, np.int32)
                docs = np.empty(0, np.int64)
                mults = np.empty(0, np.int32)
            adds = add_by_term.get(t)
            if adds:  # a row drop keeps the order; appended rows need a re-sort
                sizes, docs, mults = _size_sorted(
                    np.concatenate([sizes, np.array([a[1] for a in adds], np.int32)]),
                    np.concatenate([docs, np.array([a[0] for a in adds], np.int64)]),
                    np.concatenate([mults, np.array([a[2] for a in adds], np.int32)]),
                )
            if len(docs):
                postings[t] = (sizes, docs, mults)
            else:
                postings.pop(t, None)

        if n > self.max_postings:
            raise ValueError(
                f"patched replica would hold {n} postings > max_postings="
                f"{self.max_postings}; rebuild on the Spark path instead"
            )
        values = dict(self._values)
        for d in removed:
            values.pop(d, None)
        for d, v in ups:
            values[d] = v
        return HotReplica(postings, values, self.config, n, max_postings=self.max_postings)

    def values_copy(self) -> dict:
        """Fresh ``{doc_id: value}`` of this snapshot's dictionary — the
        post-patch source of truth the service's warm value map derives
        from (one maintenance implementation, not two)."""
        return dict(self._values)

    # -- the scan-count core (shared by suggest and autocomplete) ------------

    def _accumulate(self, counts: Counter, size_lo: int, size_hi: int | None):
        """(doc_ids asc, sizes int64, overlaps int64) for docs sharing ≥1 gram
        with the query, sizes within [size_lo, size_hi] (``None``: no upper
        bound); overlap = multiset product Σ_t mult_q(t)·mult_d(t)."""
        docs_parts, sizes_parts, w_parts = [], [], []
        for t, mq in counts.items():
            p = self._postings.get(t)
            if p is None:
                continue
            psizes, pdocs, pmults = p
            lo = np.searchsorted(psizes, size_lo, "left")
            hi = len(psizes) if size_hi is None else np.searchsorted(psizes, size_hi, "right")
            if lo >= hi:
                continue
            docs_parts.append(pdocs[lo:hi])
            sizes_parts.append(psizes[lo:hi])
            w_parts.append(pmults[lo:hi] * mq)
        if not docs_parts:
            return None
        docs = np.concatenate(docs_parts)
        uniq, inv = np.unique(docs, return_inverse=True)
        # float64 sums of small ints are exact: cast back loses nothing
        overlap = np.bincount(inv, weights=np.concatenate(w_parts)).astype(np.int64)
        size_b = np.empty(len(uniq), dtype=np.int64)
        size_b[inv] = np.concatenate(sizes_parts)  # a doc has exactly one size
        return uniq, size_b, overlap

    # -- queries --------------------------------------------------------------

    def suggest(self, query: str, metric, alpha: float, k: int) -> list:
        """Top-k ``(score, value)`` — identical rows and order to the Spark
        ``suggest_topk`` plan (score desc, doc_id asc; values resolved like
        the left dictionary join: missing doc → None)."""
        terms = tokenize(query, self.config)
        size_a = len(terms)
        if size_a == 0 or k < 1:
            return []
        min_b = max(int(metric.min_y_py(alpha, size_a)), 1)
        max_b = int(metric.max_y_py(alpha, size_a))
        acc = self._accumulate(Counter(terms), min_b, max_b)
        if acc is None:
            return []
        uniq, size_b, overlap = acc
        t = metric.threshold_np(alpha, size_a, size_b)
        # segment validity + CountFilter — same predicate as the plan
        ok = (t >= 1) & (t <= size_a) & (t <= size_b) & (overlap >= t)
        docs = uniq[ok]
        neg = -metric.similarity_np(overlap[ok], size_a, size_b[ok])
        if len(neg) > k:  # keep every candidate tied with the k-th score
            tie = neg <= np.partition(neg, k - 1)[k - 1]
            docs, neg = docs[tie], neg[tie]
        top = np.lexsort((docs, neg))[:k]  # (= score desc, doc_id asc)
        return [
            (-ns, self._values.get(d))
            for ns, d in zip(neg[top].tolist(), docs[top].tolist())
        ]

    def autocomplete(self, query: str, k: int) -> list:
        """First-k values in ascending doc_id order — identical to
        ``autocomplete_firstk``: docs whose multiset overlap with the
        head-only query grams reaches |grams|, sizes ≥ |grams|."""
        terms = tokenize(query, self.config, head_only=True)
        size_a = len(terms)
        if size_a == 0 or k < 1:
            return []
        acc = self._accumulate(Counter(terms), size_a, None)
        if acc is None:
            return []
        uniq, _, overlap = acc
        # np.unique returns doc_ids ascending: the first k matches are the
        # k smallest ids
        first = uniq[overlap >= size_a][:k]
        return [self._values.get(d) for d in first.tolist()]


def _size_sorted(sizes: np.ndarray, docs: np.ndarray, mults: np.ndarray) -> tuple:
    """One term's posting list reordered by (size, doc_id)."""
    order = np.lexsort((docs, sizes))
    return sizes[order], docs[order], mults[order]
