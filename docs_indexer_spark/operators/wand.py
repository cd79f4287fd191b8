"""Block-max WAND top-k over the compressed block index (SURVEY.md §2 C3).

Distribution strategy: the block index is bucketed by disjoint doc_id
RANGES (operators/spimi.py), so the doc space is partitioned — running
block-max WAND independently per bucket and merging the per-bucket top-k
lists is exact.  The per-bucket WAND runs inside applyInPandas (numpy block
decode, pointer walk in Python over ≤ |query terms| lists); the global
merge is Catalyst's TakeOrderedAndProject.

Algorithm: Ding & Suel, "Faster top-k document retrieval using block-max
indexes", SIGIR 2011.  Upper bounds use the suffix-max of block max-scores
(monotone non-increasing as a list advances); the pivot test uses ``>=``
against the heap threshold so score-ties are still scored and the pinned
tie-break (score DESC, doc_id ASC) stays exact versus the exact scorer.
"""

from __future__ import annotations

import heapq
from typing import TYPE_CHECKING, Iterable, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docs_indexer_spark.config import DEFAULT_TOP_K
from docs_indexer_spark.operators.bm25 import TOPK_SCHEMA, topk_partials
from docs_indexer_spark.operators.compression import (
    decode_tf_norms,
    delta_decode_doc_ids,
)
from docs_indexer_spark.session import local_frame

if TYPE_CHECKING:
    from pyspark.broadcast import Broadcast

_EXHAUSTED = np.iinfo(np.int64).max

# auto-split engages only when the query touches at least this many
# blocks: a slice must amortize its own applyInPandas task (scheduling +
# Arrow round-trip + boundary-block re-decode).  At block_size 128 this
# is ≥512k postings across slices (≥64k per slice at the max split of 8).
# Measured r6: at 50k docs (~500 hit blocks) slicing COST 2.4× vs the
# unsliced plan (1.20 s vs 0.50 s warm); at 10M docs (~24k hit blocks,
# r5) it buys ~2× (5.7 → 2.7 s p95) — so the threshold sits between the
# two regimes, keyed on per-query block count, not corpus size.
AUTO_SPLIT_MIN_BLOCKS = 4096

# the degenerate-regime detector in wand_topk_lists judges pruning only
# after this many full evaluations, or after an eighth of the bucket's
# longest list if that is fewer: a fixed floor alone never trips in a
# small bucket (313 docs per bucket on a 10,000-doc, 32-bucket index),
# where an OR of the 30/100/300 most frequent terms walked every doc in
# Python: 7.0/11.9/24.6 s against 1.8/2.0/2.3 s exhaustive, and
# 3.5/5.7/9.7 s with the relative floor (4-core machine, local[3])
DRAIN_MIN_EVALS = 8192


def _in_sorted(values: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Boolean membership of ``values`` in a SORTED unique array —
    vectorized searchsorted, the numpy filter-bitset primitive."""
    if len(sorted_arr) == 0:
        return np.zeros(len(values), dtype=bool)
    idx = np.searchsorted(sorted_arr, values)
    idx[idx == len(sorted_arr)] = len(sorted_arr) - 1
    return sorted_arr[idx] == values


def blocks_containing(
    firsts: np.ndarray, lasts: np.ndarray, sorted_ids: np.ndarray
) -> np.ndarray:
    """Boolean mask of the blocks whose ``[first_doc_id, last_doc_id]``
    range holds at least one of ``sorted_ids`` (a SORTED doc-id array) —
    two searchsorted calls over block METADATA, no decode.  The one block
    pruning primitive of the serving kernels: the filter bitset in the
    WAND and exact-scorer kernels, the rarest term's docs in the phrase
    position decode.  A block it drops can only decode to postings the
    caller would discard."""
    lo = np.searchsorted(sorted_ids, firsts, side="left")
    hi = np.searchsorted(sorted_ids, lasts, side="right")
    return hi > lo


def broadcast_allowed(sc, allowed) -> "Broadcast | None":
    """A filter's doc ids as ONE broadcast (one ship per executor, not a
    closure copy per task).  ``allowed`` is a doc-id array in any order,
    or a ``Broadcast`` of a sorted unique int64 array that the caller
    owns (IndexReader's filter memo), which is passed through.  None
    when the filter admits no document."""
    from pyspark.broadcast import Broadcast

    if isinstance(allowed, Broadcast):
        return allowed if len(allowed.value) else None
    arr = np.unique(np.asarray(allowed, dtype=np.int64))
    return sc.broadcast(arr) if len(arr) else None


class _TermList:
    """Cursor over one term's blocks within a bucket (doc_id-sorted).

    ``allowed`` (sorted unique int64 array or None) is the filter bitset
    of a FILTERED query: blocks whose doc range holds no allowed doc are
    dropped from the list before anything decodes (:func:`blocks_containing`),
    and postings outside it are dropped at decode time, so the WAND walk
    only ever sees eligible documents.  A dropped block holds no eligible
    posting, and a kept block's max-score is computed over its unfiltered
    postings, so every bound stays a valid UPPER bound — pruning stays
    exact, it just prunes a little less tightly than a filter-aware index
    would.
    """

    __slots__ = ("idf", "firsts", "lasts", "maxes", "ids_bins", "norms_bins",
                 "suffix_max", "bi", "pos", "ids", "scores", "n_blocks",
                 "allowed", "doc_range")

    def __init__(self, blocks: pd.DataFrame, idf: float,
                 allowed: np.ndarray | None = None,
                 doc_range: tuple[int, int] | None = None) -> None:
        if allowed is not None:
            blocks = blocks[blocks_containing(
                blocks["first_doc_id"].values, blocks["last_doc_id"].values,
                allowed,
            )]
        blocks = blocks.sort_values(["bucket", "block_seq"])
        self.idf = idf
        self.allowed = allowed
        self.doc_range = doc_range
        self.firsts = blocks["first_doc_id"].values.astype(np.int64)
        self.lasts = blocks["last_doc_id"].values.astype(np.int64)
        self.maxes = blocks["max_score"].values.astype(np.float64)
        self.ids_bins = blocks["doc_ids_bin"].values
        self.norms_bins = blocks["tf_norms_bin"].values
        self.n_blocks = len(self.firsts)
        # suffix max of block max-scores: upper bound on any remaining doc
        self.suffix_max = np.maximum.accumulate(self.maxes[::-1])[::-1]
        self.bi = 0
        self._load()

    def _decode(self, bi: int) -> tuple[np.ndarray, np.ndarray]:
        ids = delta_decode_doc_ids(self.ids_bins[bi])
        scores = (
            decode_tf_norms(self.norms_bins[bi], len(ids)).astype(np.float64)
            * self.idf
        )
        if self.doc_range is not None:
            lo, hi = self.doc_range
            keep = (ids >= lo) & (ids < hi)
            ids, scores = ids[keep], scores[keep]
        if self.allowed is not None:
            keep = _in_sorted(ids, self.allowed)
            ids, scores = ids[keep], scores[keep]
        return ids, scores

    def _load(self) -> None:
        # under a filter a block can decode to zero eligible postings —
        # keep advancing so cursor invariants (non-empty ids) hold
        while self.bi < self.n_blocks:
            ids, scores = self._decode(self.bi)
            if len(ids):
                self.ids = ids
                self.scores = scores
                self.pos = 0
                return
            self.bi += 1
        self.ids = np.array([_EXHAUSTED], dtype=np.int64)
        self.scores = np.zeros(1)
        self.pos = 0

    @property
    def exhausted(self) -> bool:
        return self.bi >= self.n_blocks

    @property
    def cur_doc(self) -> int:
        return int(self.ids[self.pos])

    @property
    def cur_score(self) -> float:
        return float(self.scores[self.pos])

    def upper(self) -> float:
        """Max possible contribution from the current position onward."""
        if self.exhausted:
            return 0.0
        return float(self.suffix_max[self.bi])

    def block_max_at(self, doc: int) -> float:
        """max_score of the block that covers/follows `doc` (≥ cur pos)."""
        bi = self.bi
        while bi < self.n_blocks and self.lasts[bi] < doc:
            bi += 1
        if bi >= self.n_blocks:
            return 0.0
        return float(self.maxes[bi])

    def block_last_at(self, doc: int) -> int:
        bi = self.bi
        while bi < self.n_blocks and self.lasts[bi] < doc:
            bi += 1
        if bi >= self.n_blocks:
            return _EXHAUSTED
        return int(self.lasts[bi])

    def advance(self) -> None:
        self.pos += 1
        if self.pos >= len(self.ids):
            self.bi += 1
            self._load()

    def next_geq(self, target: int) -> None:
        """Skip to the first posting with doc_id >= target (block skipping
        via metadata — undecoded blocks are jumped, not decoded)."""
        if self.exhausted or self.cur_doc >= target:
            return
        if self.ids[-1] < target:  # beyond current block
            bi = self.bi + 1
            while bi < self.n_blocks and self.lasts[bi] < target:
                bi += 1
            self.bi = bi
            self._load()
            if self.exhausted:
                return
        self.pos += int(np.searchsorted(self.ids[self.pos:], target, side="left"))
        if self.pos >= len(self.ids):
            self.bi += 1
            self._load()


def _drain_exact(
    lists: list,
    heap: list,
    k: int,
    after: "tuple[float, int] | None" = None,
) -> None:
    """Exhaustively score every REMAINING posting of ``lists`` with one
    vectorized numpy pass, merging into the WAND heap — the escape hatch
    for the degenerate regime where every query term is a head term with
    near-uniform block maxima (df/N → 1), block-max pruning cannot beat
    the θ threshold, and the per-doc Python pointer walk would evaluate
    ~every document at interpreter speed.

    EXACTNESS: a doc with remaining postings is either (a) ahead of all
    cursors — all its postings are drained, full score; (b) behind some
    cursor only via next_geq block skips — Ding & Suel's invariant
    already proved its TOTAL score < θ, and the drained partial score is
    ≤ total, so it cannot displace a heap entry; fully-evaluated docs
    advanced every containing list past themselves, so they are never
    re-scored.  Result set is therefore identical to the pointer walk.

    ``after`` (pagination cursor) masks accumulated totals to the
    strictly-after set BEFORE the top-k cut (bm25.topk_partials).  A
    case-(b) partial score that slips through the mask is still
    harmless: the drain only runs with a full heap, so θ is the k-th
    QUALIFYING score and partial < total < θ can never displace an
    entry.
    """
    ids_parts: list[np.ndarray] = []
    sc_parts: list[np.ndarray] = []
    for lst in lists:
        if lst.exhausted:
            continue
        ids_parts.append(lst.ids[lst.pos:])
        sc_parts.append(lst.scores[lst.pos:])
        for bi in range(lst.bi + 1, lst.n_blocks):
            ids, scores = lst._decode(bi)  # applies the filter bitset
            if len(ids):
                ids_parts.append(ids)
                sc_parts.append(scores)
        lst.bi = lst.n_blocks
        lst._load()
    if not ids_parts:
        return
    # the drained docs' exact top-k is a superset of what they can add
    # to the heap (a doc outside it has k drained docs ranked above it)
    top_ids, top_scores = topk_partials(
        np.concatenate(ids_parts), np.concatenate(sc_parts), k, after=after
    )
    for d, s in zip(top_ids.tolist(), top_scores.tolist()):
        entry = (float(s), -int(d))
        if len(heap) < k:
            heapq.heappush(heap, entry)
        elif entry > heap[0]:
            heapq.heapreplace(heap, entry)


def wand_topk_lists(
    term_blocks: dict,
    idf: Mapping,
    k: int,
    allowed: np.ndarray | None = None,
    doc_range: tuple[int, int] | None = None,
    after: "tuple[float, int] | None" = None,
) -> list[tuple[int, float]]:
    """Run block-max WAND over per-term block tables; returns
    [(doc_id, score)] sorted by (score desc, doc_id asc).  ``allowed``
    (sorted unique doc_ids) restricts scoring to a filter set;
    ``doc_range`` ([lo, hi)) restricts it to a doc_id slice — the
    sub-bucket parallelism primitive.

    ``after=(score, doc_id)`` — cursor pagination THROUGH WAND: a doc
    at-or-before the cursor under the (score desc, doc_id asc) order is
    simply not qualifying, so it is rejected at heap insertion; θ is
    then the k-th QUALIFYING score, a valid pruning threshold (a block
    whose upper bound is below it cannot contain a qualifying top-k
    doc), so every skip stays exact.  Deep pages cost the same one
    WAND pass as page 1 — no exhaustive re-scoring."""
    lists = [
        _TermList(blocks, idf[t], allowed=allowed, doc_range=doc_range)
        for t, blocks in term_blocks.items()
        if idf.get(t) and len(blocks)
    ]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
    evals = 0
    skips = 0
    drain_floor = min(DRAIN_MIN_EVALS, max(
        [1] + [int(b["n_docs"].sum()) // 8 for b in term_blocks.values()]
    ))
    if after is not None:
        a_s, a_d = float(after[0]), int(after[1])

    def qualifies(score: float, doc: int) -> bool:
        return after is None or score < a_s or (score == a_s and doc > a_d)

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else float("-inf")

    while True:
        # degenerate-regime detector: once the heap is full, if full
        # evaluations vastly outnumber skips the bounds aren't pruning
        # (all-head-term query, uniform maxima) — switch this bucket to
        # one vectorized exact drain instead of a per-doc Python walk
        if evals >= drain_floor and skips * 10 < evals and len(heap) >= k:
            _drain_exact(lists, heap, k, after=after)
            break
        active = [l for l in lists if not l.exhausted]
        if not active:
            break
        active.sort(key=lambda l: l.cur_doc)
        th = theta()
        acc = 0.0
        pivot = -1
        for i, lst in enumerate(active):
            acc += lst.upper()
            if acc >= th and acc > 0.0:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = active[pivot].cur_doc
        if pivot_doc == _EXHAUSTED:
            break
        # extend the pivot over every list already positioned at pivot_doc
        # so the block-max bound below covers all its contributors
        while pivot + 1 < len(active) and active[pivot + 1].cur_doc == pivot_doc:
            pivot += 1
        # block-max refinement (Ding & Suel): tighter bound from the blocks
        # that actually cover pivot_doc
        block_sum = sum(l.block_max_at(pivot_doc) for l in active[: pivot + 1])
        if block_sum < th:
            skips += 1
            # shallow skip (Ding & Suel GetNewCandidate): jump past the
            # nearest block boundary, but never past the next list's
            # cur_doc — beyond it the participating-list set changes and
            # the block_sum bound no longer covers the candidates.
            boundary = min(
                l.block_last_at(pivot_doc) for l in active[: pivot + 1]
            ) + 1
            if pivot + 1 < len(active):
                boundary = min(boundary, active[pivot + 1].cur_doc)
            target = max(boundary, pivot_doc + 1)
            # advance the list with the largest upper bound (fewest decodes)
            mover = max(active[: pivot + 1], key=lambda l: l.upper())
            mover.next_geq(target)
            continue
        if active[0].cur_doc == pivot_doc:
            # full evaluation: every list at pivot_doc contributes
            evals += 1
            score = 0.0
            for lst in active:
                if lst.cur_doc == pivot_doc:
                    score += lst.cur_score
            if qualifies(score, pivot_doc):
                entry = (score, -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
            for lst in active:
                if lst.cur_doc == pivot_doc:
                    lst.advance()
        else:
            # advance one list that is strictly BEFORE the pivot document
            # (lists already at pivot_doc must not be chosen — next_geq
            # would be a no-op and the loop would never progress)
            movers = [l for l in active[:pivot] if l.cur_doc < pivot_doc]
            mover = max(movers, key=lambda l: l.upper())
            mover.next_geq(pivot_doc)

    out = [(-nd, s) for (s, nd) in heap]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


def wand_topk(
    blocks: DataFrame,
    idf: Mapping[int, float],
    query_term_ids: Iterable[int],
    k: int = DEFAULT_TOP_K,
    allowed: "np.ndarray | Broadcast | None" = None,
    split: int | str = 1,
    after: "tuple[float, int] | None" = None,
    est_n_blocks: int | None = None,
    bounds_rows: "list[tuple[int, int, int]] | None" = None,
) -> DataFrame:
    """Distributed block-max WAND: per-bucket WAND (exact within the
    bucket's doc range) → global TakeOrderedAndProject(k).

    ``allowed`` (int64 doc_ids, any order; or a broadcast the caller
    owns — see :func:`broadcast_allowed`) runs the query FILTERED —
    OpenSearch's bool {must: match, filter: ...} shape: inside each
    bucket's kernel, blocks with no eligible doc are pruned by their
    metadata before decode and decoded postings are masked by the filter
    bitset, so only eligible documents can enter the heap.  Exactness
    argument in :class:`_TermList`.  The ids ship to executors as one
    broadcast — the caller (IndexReader.search) bounds their number and
    routes larger filters through the exact scorer's semi-join.

    ``split`` > 1 sub-divides every bucket's doc range into ``split``
    slices evaluated as independent tasks — serving-side parallelism
    beyond the build's bucket count (a 10M-doc index auto-sized to ~10
    buckets leaves 22 of 32 cores idle on a head-term query; the doc
    space is range-partitionable by construction, so slicing stays
    exact).  Cost: one tiny block-METADATA aggregate to learn bucket
    bounds, and boundary-spanning blocks decode once per slice they
    overlap (≤ |terms|·(split−1) extra block decodes — noise).  Slice
    masks are applied at decode, so bounds stay valid upper bounds —
    the same exactness argument as the filter bitset.

    ``after=(score, doc_id)`` — cursor pagination through WAND (see
    :func:`wand_topk_lists`): each bucket/slice emits its qualifying
    top-k, the global cut is unchanged.

    ``split="auto"`` sizes the slicing from the SAME metadata aggregate
    the slicer needs anyway: split = clamp(cores // n_buckets, 1, 8)
    when the query touches enough blocks to amortize a task per slice
    (≥ AUTO_SPLIT_MIN_BLOCKS — see its comment for the measured
    calibration), else 1.  A 10M-doc index auto-bucketed at ~10 on 32
    cores resolves to 3; a gate-sized index resolves to 1 and takes the
    unsliced plan unchanged."""
    terms = sorted(set(query_term_ids))
    if not terms:
        return local_frame(blocks.sparkSession, TOPK_SCHEMA)
    allowed_bc = None
    if allowed is not None:
        allowed_bc = broadcast_allowed(blocks.sparkSession.sparkContext, allowed)
        if allowed_bc is None:
            return local_frame(blocks.sparkSession, TOPK_SCHEMA)
    hit = blocks.filter(F.col("term_id").isin(terms)).select(
        "term_id", "bucket", "block_seq", "n_docs", "first_doc_id",
        "last_doc_id", "max_score", "doc_ids_bin", "tf_norms_bin",
    )

    bounds = None
    if (
        split == "auto"
        and est_n_blocks is not None
        and bounds_rows is not None
    ):
        # serving fast path: the caller supplies a block-count ESTIMATE
        # (derivable from the df_stats rows it already collected for idf)
        # and per-bucket [lo, hi] bounds cached once per generation — so
        # the auto decision runs NO per-query metadata job.  Slices then
        # span full bucket ranges instead of the query's hit range; the
        # doc_range mask keeps slicing exact, so this is purely a
        # parallelism choice (split-invariance is pinned by tests).
        cores = blocks.sparkSession.sparkContext.defaultParallelism
        split = (
            max(1, min(8, cores // max(1, len(bounds_rows))))
            if est_n_blocks >= AUTO_SPLIT_MIN_BLOCKS
            else 1
        )
        if split > 1:
            bounds = [
                {"bucket": int(b), "_lo": int(lo), "_hi": int(hi)}
                for b, lo, hi in bounds_rows
            ]
    elif split == "auto" or (isinstance(split, int) and split > 1):
        bounds = (
            hit.groupBy("bucket")
            .agg(
                F.min("first_doc_id").alias("_lo"),
                F.max("last_doc_id").alias("_hi"),
                F.count(F.lit(1)).alias("_nb"),
            )
            .collect()
        )
        if not bounds:
            return local_frame(blocks.sparkSession, TOPK_SCHEMA)
        if split == "auto":
            n_blocks = sum(int(r["_nb"]) for r in bounds)
            cores = blocks.sparkSession.sparkContext.defaultParallelism
            split = (
                max(1, min(8, cores // len(bounds)))
                if n_blocks >= AUTO_SPLIT_MIN_BLOCKS
                else 1
            )
    if isinstance(split, int) and split > 1 and bounds:
        # int64-overflow guard: a full-range xxhash64 doc-id bucket can
        # span more than 2^63 — then (first_doc_id - _lo) and the slice
        # width itself wrap in LongType (silently dropping blocks' docs
        # from the top-k, or erroring under ANSI), and the kernel's
        # numpy doc_range comparison overflows too.  Python ints are
        # exact here, so detect and fall back to the unsliced plan.
        _imax = (1 << 63) - 1
        for r in bounds:
            _lo, _hi = int(r["_lo"]), int(r["_hi"])
            if _hi - _lo + split > _imax or _hi + split > _imax:
                split = 1
                break
    if split > 1:
        bdf = blocks.sparkSession.createDataFrame(
            [
                (
                    int(r["bucket"]),
                    int(r["_lo"]),
                    # width w with split·w ≥ range size, so slice indices
                    # stay in [0, split)
                    max(1, (int(r["_hi"]) - int(r["_lo"]) + split) // split),
                )
                for r in bounds
            ],
            "bucket int, _lo long, _w long",
        )
        sliced = hit.join(F.broadcast(bdf), "bucket")
        # INTEGER division, not float floor: doc_ids are 64-bit hashes,
        # so (first_doc_id - _lo) can exceed 2^53 and a double-precision
        # divide mis-assigns blocks near slice boundaries by hundreds of
        # doc_ids — the kernel's doc_range mask is exact integer math,
        # and a block dropped from the slice that integer-wise owns some
        # of its docs silently loses those docs from the top-k.
        # (Operands stay non-negative — _lo is the bucket's min
        # first_doc_id — so DIV equals mathematical floor.)
        s_min = F.expr("(first_doc_id - _lo) DIV _w")
        s_max = F.least(
            F.expr("(last_doc_id - _lo) DIV _w"),
            F.lit(split - 1).cast("long"),
        )
        sliced = sliced.withColumn(
            "_sub",
            F.explode(F.sequence(s_min.cast("int"), s_max.cast("int"))),
        )

        def _per_slice(pdf: pd.DataFrame) -> pd.DataFrame:
            lo = int(pdf["_lo"].iloc[0])
            w = int(pdf["_w"].iloc[0])
            sub = int(pdf["_sub"].iloc[0])
            rng = (lo + sub * w, lo + (sub + 1) * w)
            groups = {int(t): g for t, g in pdf.groupby("term_id")}
            top = wand_topk_lists(
                groups, idf, k,
                allowed=allowed_bc.value if allowed_bc is not None else None,
                doc_range=rng, after=after,
            )
            return pd.DataFrame(
                {"doc_id": [d for d, _ in top],
                 "score": [s for _, s in top]}
            )

        local = sliced.groupBy("bucket", "_sub").applyInPandas(
            _per_slice, schema="doc_id long, score double"
        )
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = {int(t): g for t, g in pdf.groupby("term_id")}
        top = wand_topk_lists(
            groups, idf, k,
            allowed=allowed_bc.value if allowed_bc is not None else None,
            after=after,
        )
        return pd.DataFrame(
            {"doc_id": [d for d, _ in top], "score": [s for _, s in top]}
        )

    local = hit.groupBy("bucket").applyInPandas(
        _per_bucket, schema="doc_id long, score double"
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
