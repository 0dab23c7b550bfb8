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
``(term, size, doc_id)`` postings plus the ``(doc_id, value)`` dictionary at
enable time, then a handful of numpy array operations per request — no
per-candidate Python:

* every indexed document gets a dense int32 *slot*; two slot-indexed arrays
  hold its ``doc_id`` (int64) and its size (int32);
* each term's posting list is a pair of int32 arrays ``(sizes, slots)`` with
  one entry per OCCURRENCE (the index keeps duplicate grams), sorted by
  ``(size, slot)`` (the reference's length segmentation,
  pkg/index/indices.go:3-14) — so the LengthFilter window is a
  ``searchsorted`` slice, and a posting costs 8 bytes;
* ScanCount (reference pkg/merger/scan_count.go:7-88, a counter per
  document that each posting bumps) is ONE ``np.bincount`` over the sliced
  slot lists, each repeated by the query gram's multiplicity;
* the CountFilter's floor — the smallest threshold any size in the window
  can have — cuts the counter array before a candidate exists; the exact
  segment-validity + CountFilter predicate and scoring then run as the
  metric's ``threshold_np`` / ``similarity_np`` forms under one mask;
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
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, IndexConfig
from ..functions.analysis import tokenize

#: refuse to collect more postings than this into the driver by default
#: (8 bytes per posting occurrence in numpy — int32 size + int32 slot — plus
#: one Python string key per distinct term; 20M ≈ a words.dict×8 dictionary
#: ≈ well under 1 GiB driver RSS)
DEFAULT_MAX_POSTINGS = 20_000_000

_NO_POSTINGS = (np.empty(0, np.int32), np.empty(0, np.int32))


class HotReplica:
    """Immutable in-driver snapshot of one (index, dictionary) pair.

    Construct via :meth:`from_frames`; query via :meth:`suggest` /
    :meth:`autocomplete` — both return exactly what the service's Spark
    batch path returns for a batch of one (same types, same ordering)."""

    def __init__(
        self,
        postings: dict,
        slot_doc: np.ndarray,
        slot_size: np.ndarray,
        late_slots: dict,
        values: dict,
        config: IndexConfig,
        n_postings: int,
        max_postings: int = DEFAULT_MAX_POSTINGS,
    ):
        #: term -> (sizes int32[], slots int32[]) — one entry per posting
        #: occurrence (a doc's multiplicity in a term is how often its slot
        #: repeats), sorted by (size, slot): every constructor and mutator
        #: keeps that order, since the LengthFilter slice relies on it
        self._postings = postings
        #: slot -> doc_id (int64) and slot -> size (int32).  from_frames
        #: numbers slots in ascending doc_id order; patched() appends a slot
        #: per new doc_id, so slot order is doc_id order only up to
        #: ``_n_sorted``.  A deleted doc's slot stays, unreferenced.
        self._slot_doc = slot_doc
        self._slot_size = slot_size
        self._n_sorted = len(slot_doc) - len(late_slots)
        #: doc_id -> slot for the slots patched() appended (small: the new
        #: doc_ids since the last full build)
        self._late_slots = late_slots
        #: every posting's size is ≤ this (the Overlap window's clip)
        self._max_size = int(slot_size.max()) if len(slot_size) else 0
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
        # cache-cheap job, while collecting an over-bound index is exactly
        # the driver OOM the bound exists to prevent
        n = index_df.count()  # index rows == postings (duplicates included)
        if n > max_postings:
            raise ValueError(
                f"index has {n} postings > max_postings={max_postings}; "
                "serve it on the Spark path (coalesced) instead of a replica"
            )
        tbl = index_df.select("term", "size", "doc_id").toArrow()
        # terms become int32 codes in Arrow: no Python string per posting
        terms = pc.dictionary_encode(tbl.column("term").combine_chunks())
        codes = terms.indices.to_numpy(zero_copy_only=False)
        sizes = tbl.column("size").to_numpy().astype(np.int32)
        slot_doc, slots = np.unique(tbl.column("doc_id").to_numpy(), return_inverse=True)
        slots = slots.astype(np.int32)
        del tbl
        slot_size = np.zeros(len(slot_doc), np.int32)
        slot_size[slots] = sizes  # a doc has exactly one size
        order = np.lexsort((slots, sizes, codes))
        sizes, slots = sizes[order], slots[order]
        bounds = np.searchsorted(codes[order], np.arange(len(terms.dictionary) + 1))
        # each term's list is a view into the two sorted arrays
        postings = {
            t: (sizes[s:e], slots[s:e])
            for t, s, e in zip(terms.dictionary.to_pylist(), bounds[:-1], bounds[1:])
        }
        vt = dictionary.select("doc_id", "value").toArrow()
        values = dict(zip(vt.column("doc_id").to_pylist(), vt.column("value").to_pylist()))
        return cls(
            postings, slot_doc, slot_size, {}, values, config, n, max_postings=max_postings
        )

    # -- incremental maintenance ----------------------------------------------

    def _slot(self, doc_id: int) -> int | None:
        """The slot holding ``doc_id``, or None if it never had postings."""
        i = int(np.searchsorted(self._slot_doc[: self._n_sorted], doc_id))
        if i < self._n_sorted and self._slot_doc[i] == doc_id:
            return i
        return self._late_slots.get(doc_id)

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
        A replaced doc keeps its slot, a new doc_id appends one, and a
        deleted doc leaves its slot unreferenced.

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
        removed = {d for d, _ in ups} | {int(d) for d in deleted_ids}

        # terms whose posting lists lose rows, keyed by term -> slots
        rm_by_term: dict[str, list] = {}
        for d in removed:
            v = self._values.get(d)
            s = self._slot(d) if v is not None else None
            if s is None:
                continue  # unknown / null-valued / gram-less doc: nothing indexed
            for t in set(tokenize(v, self.config)):
                rm_by_term.setdefault(t, []).append(s)

        # terms gaining rows, keyed by term -> ([sizes], [slots]), one entry
        # per occurrence
        add_by_term: dict[str, tuple] = {}
        late = self._late_slots
        new_docs, sized = [], {}
        n = self.n_postings
        for d, v in ups:
            terms = tokenize(v, self.config) if v is not None else []
            if not terms:
                continue
            s = self._slot(d)
            if s is None:
                if late is self._late_slots:
                    late = dict(late)  # copy-on-write: only the appended slots
                s = late[d] = len(self._slot_doc) + len(new_docs)
                new_docs.append(d)
            sized[s] = len(terms)
            n += len(terms)
            for t in terms:
                add = add_by_term.setdefault(t, ([], []))
                add[0].append(len(terms))
                add[1].append(s)

        postings = dict(self._postings)  # shallow: untouched terms shared
        for t in rm_by_term.keys() | add_by_term.keys():
            sizes, slots = postings.get(t, _NO_POSTINGS)
            rm = rm_by_term.get(t)
            if rm:
                keep = ~np.isin(slots, rm)
                n -= len(slots) - int(np.count_nonzero(keep))
                sizes, slots = sizes[keep], slots[keep]
            add = add_by_term.get(t)
            if add:  # a row drop keeps the order; appended rows need a re-sort
                sizes = np.concatenate([sizes, np.array(add[0], np.int32)])
                slots = np.concatenate([slots, np.array(add[1], np.int32)])
                order = np.lexsort((slots, sizes))
                sizes, slots = sizes[order], slots[order]
            if len(slots):
                postings[t] = (sizes, slots)
            else:
                postings.pop(t, None)

        if n > self.max_postings:
            raise ValueError(
                f"patched replica would hold {n} postings > max_postings="
                f"{self.max_postings}; rebuild on the Spark path instead"
            )
        slot_doc = self._slot_doc
        slot_size = self._slot_size
        if new_docs:
            slot_doc = np.concatenate([slot_doc, np.array(new_docs, np.int64)])
            slot_size = np.concatenate([slot_size, np.zeros(len(new_docs), np.int32)])
        elif sized:
            slot_size = slot_size.copy()
        if sized:
            slot_size[list(sized)] = list(sized.values())
        values = dict(self._values)
        for d in removed:
            values.pop(d, None)
        for d, v in ups:
            values[d] = v
        return HotReplica(
            postings, slot_doc, slot_size, late, values, self.config, n,
            max_postings=self.max_postings,
        )

    def values_copy(self) -> dict:
        """Fresh ``{doc_id: value}`` of this snapshot's dictionary — the
        post-patch source of truth the service's warm value map derives
        from (one maintenance implementation, not two)."""
        return dict(self._values)

    # -- the scan-count core (shared by suggest and autocomplete) ------------

    def _scan_count(self, counts: Counter, size_lo: int, size_hi: int):
        """Per-slot overlap (int64, indexed by slot) with the query, over
        docs whose size is in [size_lo, size_hi]; None when no posting is in
        the window.  overlap = multiset product Σ_t mult_q(t)·mult_d(t):
        each occurrence list is counted mult_q(t) times."""
        parts = []
        for t, mq in counts.items():
            p = self._postings.get(t)
            if p is None:
                continue
            sizes, slots = p
            lo = sizes.searchsorted(size_lo, "left")
            hi = sizes.searchsorted(size_hi, "right")
            if lo < hi:
                parts += [slots[lo:hi]] * mq
        if not parts:
            return None
        return np.bincount(np.concatenate(parts))

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
        max_b = min(int(metric.max_y_py(alpha, size_a)), self._max_size)
        if min_b > max_b:
            return []
        cnt = self._scan_count(Counter(terms), min_b, max_b)
        if cnt is None:
            return []
        # CountFilter floor: no size in the window admits an overlap below
        # tmin, so the exact mask below implies it — it only drops slots early
        window = np.arange(min_b, max_b + 1)
        tmin = max(1, int(metric.threshold_np(alpha, size_a, window).min()))
        slots = np.flatnonzero(cnt >= tmin)
        overlap = cnt[slots]
        size_b = self._slot_size[slots].astype(np.int64)
        t = metric.threshold_np(alpha, size_a, size_b)
        # segment validity + CountFilter — same predicate as the plan
        ok = (t >= 1) & (t <= size_a) & (t <= size_b) & (overlap >= t)
        docs = self._slot_doc[slots[ok]]
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
        cnt = self._scan_count(Counter(terms), size_a, self._max_size)
        if cnt is None:
            return []
        docs = self._slot_doc[np.flatnonzero(cnt >= size_a)]
        # slot order is not doc_id order once a patch appended slots: take
        # the k smallest ids explicitly
        if len(docs) > k:
            docs = np.partition(docs, k - 1)[:k]
        docs.sort()
        return [self._values.get(d) for d in docs.tolist()]
